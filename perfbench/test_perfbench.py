"""Self-tests of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start Spark (about 30 s each); everything else is fast.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import corpus_stats  # noqa: E402
import inputs  # noqa: E402
from metrics import per_layer_spec  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=300)


# --- the contract --------------------------------------------------------------


def test_benchmark_json_lists_every_per_layer_metric():
    assert [(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]] == per_layer_spec()


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run_prints_every_metric_with_its_unit(workload, trace):
    proc = _run("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", trace,
                "--smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = BENCH["per_layer" if trace == "1" else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared}
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--workload", "images", "--seed", "1", "--seconds", "1", "--trace", "0",
                cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# --- inputs --------------------------------------------------------------------


def test_inputs_are_a_function_of_the_seed(tmp_path):
    spec = inputs.FrameSpec(frames=2, size=32, blobs=4)
    a = inputs.write_frames(str(tmp_path / "a"), 7, spec)
    b = inputs.write_frames(str(tmp_path / "b"), 7, spec)
    c = inputs.write_frames(str(tmp_path / "c"), 8, spec)
    read = lambda ps: [open(p, "rb").read() for p in ps]  # noqa: E731
    assert read(a) == read(b) != read(c)
    d1, e1 = inputs.corpus_frames(7)
    d2, _ = inputs.corpus_frames(7)
    assert d1.equals(d2) and len(e1) == len(d1)


def test_tiff_writer_round_trips_through_the_program_codec():
    from spark_ij_spark.sources.codecs import decode_bytes

    arr = inputs.blob_frame(np.random.default_rng(0), 48, 4)
    assert np.array_equal(decode_bytes(inputs.tiff_bytes(arr), "x.tif")[:, :, 0], arr)


# --- checks count a planted wrong output as failed -------------------------------


def _image_pass(tmp_path, spec):
    """A correct files-part output written driver-side."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_ij_spark.sources.codecs import encode_array

    paths = inputs.write_frames(str(tmp_path / "frames"), 5, spec)
    expected = checks.expect_frames(paths)
    out = tmp_path / "out"
    (out / "masks").mkdir(parents=True)
    rows = []
    for name, exp in expected.items():
        (out / "masks" / name).write_bytes(encode_array(exp["mask"], ".tif"))
        rows.append({"path": "file:/frames/" + name, "table": list(exp["table"].items()),
                     "stats": exp["stats"],
                     "hist": {"bin_centers": exp["hist"][0], "bin_counts": exp["hist"][1]}})
    schema = pa.schema([
        ("path", pa.string()),
        ("table", pa.map_(pa.string(), pa.list_(pa.float64()))),
        ("stats", pa.struct([(k, pa.float64()) for k in ("min", "mean", "stdDev", "max", "pts")])),
        ("hist", pa.struct([("bin_centers", pa.list_(pa.float64())),
                            ("bin_counts", pa.list_(pa.int32()))])),
    ])
    (out / "tables").mkdir()
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   str(out / "tables" / "part-0.parquet"))
    return str(out), expected


def test_image_check_counts_a_planted_wrong_mask(tmp_path):
    spec = inputs.FrameSpec(frames=3, size=48, blobs=4)
    out, expected = _image_pass(tmp_path, spec)
    assert checks.check_image_files(out, expected, spec.blobs) == (3, 0)
    from spark_ij_spark.sources.codecs import encode_array

    wrong = expected["frame_0001.tif"]["mask"].copy()
    wrong[0, 0, 0] ^= 255
    with open(os.path.join(out, "masks", "frame_0001.tif"), "wb") as fh:
        fh.write(encode_array(wrong, ".tif"))
    assert checks.check_image_files(out, expected, spec.blobs) == (3, 1)
    os.remove(os.path.join(out, "masks", "frame_0002.tif"))
    assert checks.check_image_files(out, expected, spec.blobs) == (3, 2)


def test_sweep_check_counts_a_planted_wrong_group():
    spec = inputs.PlateSpec(plates=2, wells=3, size=12)
    expected = checks.expect_sweep(inputs.plate_arrays(4, spec))
    rows = [{"plate": k.split("|")[0], "variant": k.split("|")[1], **g,
             "ref_dist": expected["dist"][k.split("|")[1]]}
            for k, g in expected["groups"].items()]
    assert checks.check_sweep(rows, expected, spec.wells) == (10, 0)
    rows[3] = dict(rows[3], sum_mean=rows[3]["sum_mean"] * (1 + 1e-6))
    assert checks.check_sweep(rows, expected, spec.wells) == (10, 1)
    assert checks.check_sweep(rows[:-1], expected, spec.wells) == (10, 2)


def test_corpus_check_counts_a_planted_wrong_hash():
    expected = {"a": "x", "b": "y", "c": "z"}
    assert checks.check_corpus(dict(expected), expected) == (3, 0)
    assert checks.check_corpus(dict(expected, b="w"), expected) == (3, 1)


def test_row_hash_ignores_row_order_but_not_values():
    rows = [(1, 0.5, "a"), (2, None, "b")]
    assert checks.row_hash(["k", "v", "s"], rows) == checks.row_hash(["k", "v", "s"], rows[::-1])
    assert checks.row_hash(["k", "v", "s"], rows) != checks.row_hash(["k", "v", "s"],
                                                                     [(1, 0.5, "a"), (2, 0.0, "b")])


# --- corpus fidelity -----------------------------------------------------------


def test_generated_corpus_matches_reference_statistics(tmp_path):
    with open(corpus_stats.REFERENCE_FILE) as fh:
        ref = json.load(fh)
    for seed in (1, 2):
        d = str(tmp_path / f"s{seed}")
        inputs.write_corpus(d, seed)
        assert corpus_stats.compare(corpus_stats.corpus_stats(d), ref) == []


def test_build_jobs_match_reference_and_repeat_across_seeds(tmp_path):
    with open(corpus_stats.REFERENCE_FILE) as fh:
        ref = json.load(fh)
    dirs = [str(tmp_path / f"s{seed}") for seed in (1, 2)]
    for seed, d in zip((1, 2), dirs):
        inputs.write_corpus(d, seed)
    for jobs in corpus_stats.build_jobs(dirs):
        got = dict(ref, build_jobs=jobs)
        assert [i for i in corpus_stats.compare(got, ref) if i.startswith("build_jobs")] == []
