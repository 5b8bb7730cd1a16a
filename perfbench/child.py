"""The measured process: one Spark driver running one workload.

Run by ``run.py`` as ``python3 child.py <config.json>``; it writes its
timings (and, traced, its spans and per-span counters) to the result
path named in the config. Set-up is timed from just before ``run.py``
starts this process to the end of the cold pass, so interpreter start
and imports count toward it.
"""

from __future__ import annotations

import json
import os
import sys
import time


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def main(cfg: dict) -> dict:
    from passes import WORKLOADS, discard
    from spans import NullTracer, Tracer

    from spark_ij_spark.session import get_spark

    traced = cfg["trace"]
    t0 = time.time()
    spark = get_spark(f"perfbench-{cfg['workload']}", cpus=cfg["cpus"])
    spark.sparkContext.setLogLevel("ERROR")
    untraced = NullTracer()
    tracer = Tracer(spark, cfg["workload"]) if traced else untraced
    if traced:
        tracer.record("session.get_spark", t0, time.time())
    wl = WORKLOADS[cfg["workload"]](spark, tracer, cfg["inputs"], cfg["out_root"])
    wl.register()

    def one(i: int, trace_this: bool) -> tuple[float, str, list]:
        wl.tracer = tracer if trace_this else untraced
        first = len(tracer.spans) if trace_this else 0
        t = time.perf_counter()
        with wl.tracer.span("pass"):
            out = wl.run_pass(i)
        if trace_this:
            # accumulators are weakly held: read them while `out` still
            # references the pass's plans. Traced pass times include
            # this read, so trace.overhead_share covers it.
            tracer.collect(tracer.spans[first:])
        dt = time.perf_counter() - t
        kept = wl.keep(out, i)
        return dt, kept, [s["id"] for s in tracer.spans[first:]] if trace_this else []

    result: dict = {}
    cold_s, kept, result["cold_spans"] = one(0, traced)
    result["setup_end"] = time.time()
    result["cold_pass_s"] = cold_s
    discard(kept)
    passes = []
    steal0 = steal_jiffies()
    for k in range(cfg["timed"]):
        # traced runs alternate untraced and traced passes, so drift
        # over the run weighs both alike
        trace_this = traced and k % 2 == 1
        dt, kept, span_ids = one(1 + k, trace_this)
        passes.append({"index": 1 + k, "seconds": dt, "traced": trace_this,
                       "output": kept, "spans": span_ids})
    result["steal_share"] = steal_share(steal0, steal_jiffies())
    result["passes"] = passes
    if traced:
        result["spans"] = tracer.spans
    return result


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        config = json.load(fh)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    result = main(config)
    with open(config["result"], "w") as fh:
        json.dump(result, fh)
    # run.py kills the process group: stopping Spark here would only add
    # its shutdown to every run
    sys.stdout.flush()
    os._exit(0)
