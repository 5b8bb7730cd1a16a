"""Driver-side timings of the program's pure layer functions.

Run in the benchmark's own process, after the Spark process has exited,
on a sample of the workload's generated inputs. Each timing is the
median over the sample of the per-call time, so it is what one call
costs on one core without Spark around it.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from checks import CHAIN, SWEEP_CMD, SWEEP_OFFSET, sweep_variants

LAYER_TIMINGS = (
    "sources.codecs.decode_bytes.ms_per_image",
    "sources.codecs.encode_array.ms_per_image",
    "registry.run_op.chain_ms_per_image",
    "kernels.particles.ms_per_image",
    "kernels.histogram.ms_per_image",
    "kernels.histogram.compare_ms",
    "registry.run_op.sweep_ms_per_image",
    "datamodel.roundtrip_us",
    "lineage.append_entry_us",
)


def _median_time(fn, args_list, scale: float, repeat: int = 3) -> float:
    per_call = []
    for args in args_list:
        best = []
        for _ in range(repeat):
            t = time.perf_counter()
            fn(*args)
            best.append(time.perf_counter() - t)
        per_call.append(min(best))
    return statistics.median(per_call) * scale


def images_layers(frames: list[tuple[str, bytes]], plates: list[np.ndarray]) -> dict[str, float]:
    """Files part on ``frames`` (path, TIFF bytes); sweep part, and the
    per-row datamodel and lineage costs, on small ``plates`` images."""
    from spark_ij_spark import lineage
    from spark_ij_spark.datamodel import image_to_np, np_to_image
    from spark_ij_spark.kernels.histogram import hist_distance, histogram
    from spark_ij_spark.kernels.particles import analyze_particles
    from spark_ij_spark.registry import run_op
    from spark_ij_spark.sources.codecs import decode_bytes, encode_array

    raws = [decode_bytes(data, path) for path, data in frames]

    def chain(a):
        for cmd, args in CHAIN:
            a, _ = run_op(a, cmd, args, {})
        return a

    def sweep(a, args):
        b, _ = run_op(a, SWEEP_CMD, args, {})
        c, _ = run_op(b, "Subtract...", f"value={SWEEP_OFFSET}", {})
        return run_op(c, "Abs", "", {})[0]

    def compare(a, b):
        ca, na = histogram(a)
        cb, nb = histogram(b)
        return hist_distance(ca, na, cb, nb)

    masks = [chain(a) for a in raws]
    variants = [a for a, _ in sweep_variants()]
    blurred = [run_op(a, SWEEP_CMD, variants[-1], {})[0] for a in plates[:4]]
    log = [lineage.log_entry(lineage.OP_LOAD, "sample")]
    entry = lineage.log_entry(lineage.OP_RUN, "Median...", ["radius=1"])
    return {
        "sources.codecs.decode_bytes.ms_per_image": _median_time(
            decode_bytes, [(data, path) for path, data in frames], 1e3),
        "sources.codecs.encode_array.ms_per_image": _median_time(
            encode_array, [(m, ".tif") for m in masks], 1e3),
        "registry.run_op.chain_ms_per_image": _median_time(chain, [(a,) for a in raws], 1e3),
        "kernels.particles.ms_per_image": _median_time(
            analyze_particles, [(m,) for m in masks], 1e3),
        "kernels.histogram.ms_per_image": _median_time(histogram, [(a,) for a in raws], 1e3),
        "kernels.histogram.compare_ms": _median_time(
            compare, list(zip(blurred, plates[:4])), 1e3),
        "registry.run_op.sweep_ms_per_image": _median_time(
            sweep, [(a, v) for a in plates for v in variants], 1e3),
        "datamodel.roundtrip_us": _median_time(
            lambda a: image_to_np(np_to_image(a, log=log)), [(a,) for a in plates], 1e6),
        "lineage.append_entry_us": _median_time(
            lambda: lineage.append_entry(log, entry), [()] * len(plates), 1e6),
    }
