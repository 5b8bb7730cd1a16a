"""Per-layer metrics from a traced run: names, units, and how each is
derived from the spans (see README.md for the layer -> metric ->
workload map). A metric a workload does not exercise reads 0.
"""

from __future__ import annotations

import os
import statistics

import checks
import layers
from spans import COUNTERS, span_counters

_COUNTER_UNITS = {
    "wall_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "python_start_s": "s", "python_run_s": "s",
    "python_bytes_sent": "bytes", "python_bytes_received": "bytes",
}
_TIMING_UNITS = {"ms_per_image": "ms", "compare_ms": "ms", "us": "us"}
#: spans whose full counter set is reported
COUNTED_SPANS = (
    "sources.images.save_images", "operators.images.table_sink", "functions.sql.sweep_query",
)
QUERY_SPANS = tuple(f"{layer}.{name}" for name, layer in checks.CORPUS_QUERIES.items())
QUERY_PHASES = (("build_s", "s"), ("build_jobs", "count"), ("plan_s", "s"),
                ("exec_s", "s"), ("exec_jobs", "count"))


def per_layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in print order."""
    out = [("session.get_spark.s", "s", "lower"),
           ("session.first_pass.python_start_s", "s", "lower"),
           ("session.peak_pss_mb", "MB", "lower")]
    for name in layers.LAYER_TIMINGS:
        unit = next(u for k, u in _TIMING_UNITS.items() if name.endswith(k))
        out.append((name, unit, "lower"))
    for span in COUNTED_SPANS:
        out += [(f"{span}.{c}", _COUNTER_UNITS[c], "lower") for c in COUNTERS]
    out += [("sources.images.decodes_per_image", "ratio", "lower"),
            ("operators.images.kernel_share", "ratio", "higher"),
            ("functions.sql.sweep_query.kernel_share", "ratio", "higher"),
            ("operators.sweep.run_range.build_s", "s", "lower")]
    for span in QUERY_SPANS:
        out += [(f"{span}.{p}", u, "lower") for p, u in QUERY_PHASES]
        out += [(f"{span}.{c}", _COUNTER_UNITS[c], "lower") for c in COUNTERS]
    out += [("host.steal_share", "ratio", "lower"), ("trace.overhead_share", "ratio", "lower")]
    return out


def _per_pass(result: dict) -> list[dict[str, dict]]:
    """For each traced pass: span name -> span record (query spans and
    their phases are named ``<query>``, ``<query>.build`` and so on)."""
    by_id = {s["id"]: s for s in result["spans"]}
    return [{by_id[i]["name"]: by_id[i] for i in p["spans"]}
            for p in result["passes"] if p["traced"]]


def per_layer_metrics(workload: str, result: dict, expected: dict, spec,
                      peak_mb: float) -> dict:
    """``peak_mb``: peak proportional set size of the measured process
    tree (driver, JVM, Python workers) over the whole run."""
    values = {name: 0.0 for name, _, _ in per_layer_spec()}
    passes = _per_pass(result)
    by_id = {s["id"]: s for s in result["spans"]}

    def med(fn) -> float:
        return statistics.median(fn(p) for p in passes)

    values["session.get_spark.s"] = next(
        s["wall_s"] for s in result["spans"] if s["name"] == "session.get_spark")
    cold = {by_id[i]["name"]: by_id[i] for i in result["cold_spans"]}
    values["session.first_pass.python_start_s"] = cold["pass"].get("python_start_s", 0.0)
    values["session.peak_pss_mb"] = peak_mb

    for span in COUNTED_SPANS + QUERY_SPANS:
        if span in passes[0]:
            for c in COUNTERS:
                values[f"{span}.{c}"] = med(lambda p: span_counters(p[span])[c])
    for span in QUERY_SPANS:
        if span in passes[0]:
            values[f"{span}.build_s"] = med(lambda p: p[span + ".build"]["wall_s"])
            values[f"{span}.build_jobs"] = med(lambda p: p[span + ".build"]["jobs"])
            values[f"{span}.plan_s"] = med(lambda p: p[span + ".plan"]["wall_s"])
            values[f"{span}.exec_s"] = med(lambda p: p[span + ".exec"]["wall_s"])
            values[f"{span}.exec_jobs"] = med(lambda p: p[span + ".exec"]["jobs"])

    if workload == "images":
        frames = []
        for path in expected["paths"][:8]:
            with open(path, "rb") as fh:
                frames.append((path, fh.read()))
        values.update(layers.images_layers(frames, [a for _, _, a in expected["images"][:16]]))
        input_bytes = sum(os.path.getsize(p) for p in expected["paths"])
        sinks = ("sources.images.save_images", "operators.images.table_sink")
        dpi = med(lambda p: sum(p[s]["input_bytes"] for s in sinks) / input_bytes)
        values["sources.images.decodes_per_image"] = dpi
        # every sink that re-reads the frames re-runs decode, the chain
        # and particles; only the table sink computes the histogram
        kernel_s = spec.files.frames * (
            dpi * (values["sources.codecs.decode_bytes.ms_per_image"]
                   + values["registry.run_op.chain_ms_per_image"]
                   + values["kernels.particles.ms_per_image"])
            + values["kernels.histogram.ms_per_image"]) / 1e3
        python_s = med(lambda p: sum(p[s]["python_run_s"] for s in sinks))
        values["operators.images.kernel_share"] = kernel_s / python_s if python_s else 0.0
        rows = spec.sweep.plates * spec.sweep.wells * checks.SWEEP_STEPS
        kernel_s = (rows * values["registry.run_op.sweep_ms_per_image"]
                    + checks.SWEEP_STEPS * values["kernels.histogram.compare_ms"]) / 1e3
        python_s = values["functions.sql.sweep_query.python_run_s"]
        values["functions.sql.sweep_query.kernel_share"] = kernel_s / python_s if python_s else 0.0
        values["operators.sweep.run_range.build_s"] = med(
            lambda p: p["operators.sweep.run_range"]["wall_s"])

    values["host.steal_share"] = result["steal_share"]
    untraced = [p["seconds"] for p in result["passes"] if not p["traced"]]
    traced = [p["seconds"] for p in result["passes"] if p["traced"]]
    values["trace.overhead_share"] = statistics.median(traced) / statistics.median(untraced) - 1
    units = {name: unit for name, unit, _ in per_layer_spec()}
    return {name: {"value": float(v), "unit": units[name]} for name, v in values.items()}
