"""The benchmark: one workload, one fresh Spark driver, one JSON line.

    python3 perfbench/run.py --workload images --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
``--seed`` under ``.bench_work/``, computes the expected outputs, then
starts ``child.py`` (one Spark driver on ``local[<cores>]``, a closed
loop with one client) which runs: set-up (session start, registration
and the cold first pass), then a fixed number of timed passes. Pass
counts depend only on ``--seconds`` and the workload, never on measured
speed, so every commit runs the same passes. Every timed pass's sinks
are checked after the child exits.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same passes (at least two), alternating untraced and traced ones, and
prints the per-layer metrics (spans go to ``.bench_out/``).
``--smoke`` shrinks the inputs and pass counts for the self-tests. See
README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import inputs  # noqa: E402
from metrics import per_layer_metrics  # noqa: E402

#: inputs per workload: (full, smoke)
SIZES = {
    "images": (inputs.ImagesSpec(inputs.FrameSpec(frames=32, size=192, blobs=16),
                                 inputs.PlateSpec(plates=4, wells=64, size=24)),
               inputs.ImagesSpec(inputs.FrameSpec(frames=4, size=64, blobs=4),
                                 inputs.PlateSpec(plates=2, wells=4, size=16))),
    "corpus_queries": (inputs.CorpusSpec(), inputs.CorpusSpec(docs=80, sources=8)),
}
#: timed passes per 10 s of --seconds. Constants: a faster commit runs
#: the same passes, it does not run more of them. Three, so that the
#: median drops the slowest pass (the first one after set-up, or one a
#: burst of host contention hit); no more, because set-up (a JVM start
#: and a cold pass of 15-40 s) dominates each run. See README.md for the
#: run-time budget.
PASSES = {
    "images": 3,
    "corpus_queries": 3,
}
RUN_LIMIT_S = 170.0


def timed_passes(workload: str, seconds: int) -> int:
    return max(1, round(seconds * PASSES[workload] / 10))


def process_tree_pss_kb(pid: int) -> int:
    """Proportional set size of ``pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    total, stack = 0, [pid]
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
        stack.extend(children.get(p, ()))
    return total


class PeakPss(threading.Thread):
    def __init__(self, pid: int, period: float = 0.25):
        super().__init__(daemon=True)
        self.pid, self.period, self.peak_kb = pid, period, 0
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.wait(self.period):
            self.peak_kb = max(self.peak_kb, process_tree_pss_kb(self.pid))


def wait_group_gone(pgid: int, limit_s: float = 10.0) -> None:
    """Wait until no process of group ``pgid`` is left."""
    end = time.time() + limit_s
    while time.time() < end:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    raise RuntimeError(f"processes of group {pgid} survived SIGKILL")


def make_inputs(workload: str, seed: int, spec, work: str) -> tuple[dict, dict]:
    """Generate the inputs; return (paths for the child, expectations)."""
    if workload == "images":
        frames_dir = os.path.join(work, "frames")
        plates_dir = os.path.join(work, "plates")
        paths = inputs.write_frames(frames_dir, seed, spec.files)
        images = inputs.write_plates(plates_dir, seed, spec.sweep)
        return ({"frames_dir": frames_dir, "plates_dir": plates_dir},
                {"frames": checks.expect_frames(paths), "paths": paths,
                 "sweep": checks.expect_sweep(images), "images": images})
    sf_dir = os.path.join(work, "sf")
    inputs.write_corpus(sf_dir, seed, spec)
    return {"sf_dir": sf_dir}, {"hashes": checks.oracle_hashes(sf_dir)}


def check_pass(workload: str, output: str, expected: dict, spec) -> tuple[int, int]:
    if workload == "images":
        a1, f1 = checks.check_image_files(output, expected["frames"], spec.files.blobs)
        with open(os.path.join(output, "sweep.json")) as fh:
            a2, f2 = checks.check_sweep(json.load(fh), expected["sweep"], spec.sweep.wells)
        return a1 + a2, f1 + f2
    with open(output) as fh:
        return checks.check_corpus(json.load(fh), expected["hashes"])


def items_per_pass(workload: str, spec) -> int:
    """Images for the image workload (frames plus swept images),
    queries for the corpus."""
    if workload == "images":
        sweep = spec.sweep
        return spec.files.frames + sweep.plates * sweep.wells * checks.SWEEP_STEPS
    return len(checks.CORPUS_QUERIES)


def host_probe_ms() -> float:
    """A fixed piece of single-core work, timed. Printed with each run so
    that a change in the host's speed between runs shows."""
    import numpy as np

    t = time.perf_counter()
    values = np.random.default_rng(0).random(200_000)
    for _ in range(10):
        np.sort(values)
    sum(i * i for i in range(300_000))
    return (time.perf_counter() - t) * 1e3


def run_child(cfg: dict, work: str, deadline: float) -> tuple[dict, float, float]:
    """Start the measured process; return (its result, its start time,
    peak PSS in MB, sampled in traced runs only)."""
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    # every scratch file (Spark's local dirs, native libraries the JVM
    # unpacks, Python temp files) goes under the run's work directory
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_LOCAL_DIRS=local, TMPDIR=local,
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
               PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable)
    log_path = os.path.join(work, "child.log")
    with open(log_path, "w") as log:
        t_start = time.time()
        child = subprocess.Popen([sys.executable, os.path.join(HERE, "child.py"), cfg_path],
                                 cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                 start_new_session=True)
        # peak memory is a per-layer metric; reading every process's
        # smaps in untraced runs would only disturb the timed passes
        sampler = PeakPss(child.pid)
        if cfg["trace"]:
            sampler.start()
        try:
            code = child.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            sampler.done.set()
            if sampler.is_alive():
                sampler.join()
            # the child exits without stopping Spark; the JVM and the
            # Python workers share its process group
            try:
                os.killpg(child.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            child.wait()
            wait_group_gone(child.pid)
    if code != 0:
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"measured process failed (exit {code}):\n{tail}")
    with open(cfg["result"]) as fh:
        return json.load(fh), t_start, sampler.peak_kb / 1024.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one timed pass")
    args = ap.parse_args(argv)
    t_begin = time.time()
    # a terminated run still kills its measured process group (finally
    # blocks run on SystemExit, not on a bare SIGTERM)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "spark_ij_spark"))):
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2

    spec = SIZES[args.workload][1 if args.smoke else 0]
    timed = 1 if args.smoke else timed_passes(args.workload, args.seconds)
    if args.trace:
        # untraced and traced passes alternate: at least one of each
        timed = max(2, timed)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "out"))
    try:
        child_inputs, expected = make_inputs(args.workload, args.seed, spec, work)
        cfg = {
            "workload": args.workload, "trace": bool(args.trace), "cpus": len(os.sched_getaffinity(0)),
            "inputs": child_inputs, "out_root": os.path.join(work, "out"),
            "timed": timed, "result": os.path.join(work, "result.json"),
        }
        probe_ms = host_probe_ms()
        result, t_start, peak_mb = run_child(cfg, work, t_begin + RUN_LIMIT_S)

        attempted = failed = 0
        for p in result["passes"]:
            a, f = check_pass(args.workload, p["output"], expected, spec)
            attempted, failed = attempted + a, failed + f
        untraced = [p["seconds"] for p in result["passes"] if not p["traced"]]
        print(f"perfbench: {args.workload} seed={args.seed} "
              f"timed={len(untraced)} cold_pass_s={result['cold_pass_s']:.4f} "
              f"steal_share={result['steal_share']:.5f} host_probe_ms={probe_ms:.1f}")
        print("perfbench: pass_s " + " ".join(
            f"{p['seconds']:.4f}{'T' if p['traced'] else ''}" for p in result["passes"]))
        if args.trace:
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            span_file = os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.json")
            with open(span_file, "w") as fh:
                json.dump(result["spans"], fh, indent=1)
            print(f"perfbench: spans written to {os.path.relpath(span_file, ROOT)}")
            metrics = per_layer_metrics(args.workload, result, expected, spec, peak_mb)
        else:
            items = items_per_pass(args.workload, spec)
            metrics = {
                "setup_s": {"value": result["setup_end"] - t_start, "unit": "s"},
                "pass_s": {"value": statistics.median(untraced), "unit": "s"},
                "items_per_s": {"value": items * len(untraced) / sum(untraced), "unit": "1/s"},
            }
        print(json.dumps({"correct": attempted > 0 and failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
