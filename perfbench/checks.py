"""Expected outputs, computed driver-side before the run, and the checks
that compare every timed pass's sinks against them.

The expectations run the program's pure layer functions (codec, op
registry, kernels) in the benchmark's own process, with numpy, and the
DuckDB oracle for the corpus: what is checked is the distributed path
(Spark sources, UDF plumbing, sinks), plus two facts the generator
fixes independently of the program: every frame has exactly ``blobs``
particles, and every sweep group has ``wells`` rows.

A check returns ``(attempted, failed)`` in items: frames, sweep groups
or queries.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os

import numpy as np

#: the files part's op chain, and the sweep part's op, offset and variants
CHAIN = [("Gaussian Blur...", "sigma=2"), ("Median...", "radius=1"),
         ("Auto Threshold", "method=IsoData white")]
SWEEP_CMD, SWEEP_FROM, SWEEP_TO, SWEEP_STEPS = "Gaussian Blur...", "sigma=0.5", "sigma=2.5", 5
SWEEP_OFFSET = 0.25
REFERENCE = ("plate00", 0)
#: corpus query -> the layer (module) its spans are named after
CORPUS_QUERIES = {
    "dedup_pagerank": "operators.dedup",
    "pipeline_leakage_split": "operators.pipeline",
    "dedup_source_matrix": "operators.dedup",
}
_REL = 1e-9


def _close(a, b) -> bool:
    return math.isclose(float(a), float(b), rel_tol=_REL, abs_tol=1e-12)


# --- images, files part ----------------------------------------------------------


def frame_expectation(tiff: bytes, path: str) -> dict:
    from spark_ij_spark.datamodel import stats_of_values
    from spark_ij_spark.kernels.histogram import histogram
    from spark_ij_spark.registry import run_op
    from spark_ij_spark.sources.codecs import decode_bytes

    raw = decode_bytes(tiff, path)
    arr = raw
    for cmd, args in CHAIN:
        arr, _ = run_op(arr, cmd, args, {})
    _, table = run_op(arr, "Analyze Particles...", "", {})
    centers, counts = histogram(raw)
    return {
        "mask": arr, "table": table,
        "stats": stats_of_values(raw.astype("float64")),
        "hist": (centers.tolist(), [int(c) for c in counts]),
    }


def expect_frames(paths: list[str]) -> dict[str, dict]:
    out = {}
    for p in paths:
        with open(p, "rb") as fh:
            out[os.path.basename(p)] = frame_expectation(fh.read(), p)
    return out


def check_image_files(out_dir: str, expected: dict[str, dict], blobs: int) -> tuple[int, int]:
    """``out_dir`` holds one pass's sinks: ``masks/*.tif`` and ``tables``."""
    import pyarrow.parquet as pq

    from spark_ij_spark.sources.codecs import decode_bytes

    rows = {}
    if os.path.isdir(os.path.join(out_dir, "tables")):
        for r in pq.read_table(os.path.join(out_dir, "tables")).to_pylist():
            rows[os.path.basename(r["path"])] = r
    failed = 0
    for name, exp in expected.items():
        mask_path = os.path.join(out_dir, "masks", os.path.splitext(name)[0] + ".tif")
        row = rows.get(name)
        try:
            with open(mask_path, "rb") as fh:
                mask = decode_bytes(fh.read(), mask_path)
        except (OSError, ValueError):
            failed += 1
            continue
        ok = (
            row is not None
            and mask.shape == exp["mask"].shape
            and np.array_equal(mask, exp["mask"])
            and len(dict(row["table"]).get("Area", [])) == blobs
            and _same_table(dict(row["table"]), exp["table"])
            and all(_close(row["stats"][k], v) for k, v in exp["stats"].items())
            and list(row["hist"]["bin_counts"]) == exp["hist"][1]
            and all(_close(a, b) for a, b in zip(row["hist"]["bin_centers"], exp["hist"][0]))
        )
        failed += not ok
    extra = set(rows) - set(expected)
    return len(expected) + len(extra), failed + len(extra)


def _same_table(got: dict, exp: dict) -> bool:
    return set(got) == set(exp) and all(
        len(got[k]) == len(exp[k]) and all(_close(a, b) for a, b in zip(got[k], exp[k]))
        for k in exp
    )


# --- images, sweep part ----------------------------------------------------------


def sweep_variants() -> list[tuple[str, str]]:
    """(args, variant key) per sweep step, as ``run_range`` names them."""
    from spark_ij_spark.operators.sweep import macro_steps_to_sweep, sweep_to_path

    args = macro_steps_to_sweep([SWEEP_FROM, SWEEP_TO], steps=SWEEP_STEPS, delim=" ")
    return list(zip(args, sweep_to_path(args, new_directories=False, delim=" ")))


def expect_sweep(images: list[tuple[str, int, np.ndarray]]) -> dict:
    """Per (plate, variant): n, sum of means, max of maxima, min of
    minima of ``|blur(image) - offset|``; per variant: the histogram
    distance between the reference well's blurred and raw image."""
    from spark_ij_spark.datamodel import stats_of_values
    from spark_ij_spark.kernels.histogram import hist_distance, histogram
    from spark_ij_spark.registry import run_op

    groups: dict[str, dict] = {}
    dist: dict[str, float] = {}
    for args, key in sweep_variants():
        for plate, well, img in images:
            blurred, _ = run_op(img, SWEEP_CMD, args, {})
            shifted, _ = run_op(blurred, "Subtract...", f"value={SWEEP_OFFSET}", {})
            absval, _ = run_op(shifted, "Abs", "", {})
            s = stats_of_values(absval.astype("float64"))
            g = groups.setdefault(f"{plate}|{key}", {"n": 0, "sum_mean": 0.0,
                                                     "max_max": -math.inf, "min_min": math.inf})
            g["n"] += 1
            g["sum_mean"] += s["mean"]
            g["max_max"] = max(g["max_max"], s["max"])
            g["min_min"] = min(g["min_min"], s["min"])
            if (plate, well) == REFERENCE:
                ca, na = histogram(blurred)
                cb, nb = histogram(img)
                dist[key] = hist_distance(ca, na, cb, nb)
    return {"groups": groups, "dist": dist}


def check_sweep(rows: list[dict], expected: dict, wells: int) -> tuple[int, int]:
    got = {f"{r['plate']}|{r['variant']}": r for r in rows}
    failed = len(set(got) - set(expected["groups"]))
    for key, exp in expected["groups"].items():
        r = got.get(key)
        ok = (
            r is not None and r["n"] == exp["n"] == wells
            and _close(r["sum_mean"], exp["sum_mean"])
            and _close(r["max_max"], exp["max_max"])
            and _close(r["min_min"], exp["min_min"])
            and _close(r["ref_dist"], expected["dist"][key.split("|")[1]])
        )
        failed += not ok
    return len(expected["groups"]) + len(set(got) - set(expected["groups"])), failed


# --- corpus_queries ------------------------------------------------------------


def row_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive value hash of a result, with columns sorted by
    name and NULL/float values normalised like the oracle comparison."""
    def norm(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(float(v))
        return str(v)

    body = "\n".join(sorted("|".join(norm(v) for v in r) for r in rows))
    return hashlib.sha256((",".join(cols) + "\n" + body).encode()).hexdigest()[:16]


def oracle_hashes(sf_dir: str) -> dict[str, str]:
    """DuckDB oracle hash per query over the generated tables."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for path in glob.glob(os.path.join(sf_dir, "*.parquet")):
            table = os.path.splitext(os.path.basename(path))[0]
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        out = {}
        for name in CORPUS_QUERIES:
            pdf = con.execute(sql[name]).df()
            cols = sorted(pdf.columns)
            out[name] = row_hash(cols, list(pdf[cols].itertuples(index=False, name=None)))
        return out
    finally:
        con.close()


def check_corpus(hashes: dict[str, str], expected: dict[str, str]) -> tuple[int, int]:
    return len(expected), sum(hashes.get(n) != h for n, h in expected.items())
