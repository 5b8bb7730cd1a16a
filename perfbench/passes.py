"""One pass of each workload, driven only through the program's public
functions. Every call into the program runs inside a tracer span.

A workload object is built once per process; ``register`` is the
source/UDF registration that counts toward set-up, ``run_pass`` is the
timed unit, and ``keep`` stores a pass's output for the checks, outside
the timed region.
"""

from __future__ import annotations

import json
import os
import shutil

from checks import (
    CHAIN, CORPUS_QUERIES, REFERENCE, SWEEP_CMD, SWEEP_FROM, SWEEP_OFFSET, SWEEP_STEPS,
    SWEEP_TO, row_hash,
)


class Images:
    """Two parts per pass, each checked on its own.

    Files: load -> fused blur/median/threshold -> particles, stats and
    histogram -> masks via ``save_images`` and per-image tables to
    parquet. Few large rows: codecs, kernels and the write path work.

    Sweep: a ``run_range`` Gaussian-blur sweep over small plate images,
    then one SQL-text query over the registered image UDFs, grouped by
    sweep variant and plate. Thousands of tiny rows: per-row Arrow,
    struct and lineage overhead and a small shuffle dominate; read-only.
    """

    SQL = f"""
    WITH t AS (
      SELECT plate, split(sample, '__')[1] AS variant,
             stats(run(run2(image, 'Subtract...', 'value={SWEEP_OFFSET}'), 'Abs')) AS s
      FROM swept),
    h AS (
      SELECT split(sample, '__')[1] AS variant, hist_compare(image, raw) AS ref_dist
      FROM swept WHERE plate = '{REFERENCE[0]}' AND well = {REFERENCE[1]})
    SELECT plate, t.variant, count(*) AS n, sum(s['mean']) AS sum_mean,
           max(s['max']) AS max_max, min(s['min']) AS min_min, first(h.ref_dist) AS ref_dist
    FROM t JOIN h ON t.variant = h.variant
    GROUP BY plate, t.variant
    """

    def __init__(self, spark, tracer, inputs: dict, out_root: str):
        self.spark, self.tracer = spark, tracer
        self.frames_dir = inputs["frames_dir"]
        self.plates_dir = inputs["plates_dir"]
        self.out_root = out_root

    def register(self) -> None:
        """load_images needs no registration; the sweep's SQL needs the UDFs."""
        from spark_ij_spark.functions.sql import register_imagej

        with self.tracer.span("functions.sql.register_imagej"):
            register_imagej(self.spark)

    def run_pass(self, i: int) -> tuple[str, list]:
        return self.files(i), self.sweep()

    def files(self, i: int) -> str:
        from pyspark.sql import functions as F

        from spark_ij_spark.operators import images as ops
        from spark_ij_spark.sources import images as src

        span = self.tracer.span
        out = os.path.join(self.out_root, f"pass{i:03d}")
        with span("sources.images.load_images"):
            df = src.load_images(self.spark, self.frames_dir, pattern="*.tif")
        df = df.withColumn("raw", F.col("image"))
        with span("operators.images.run_image_ops"):
            df = df.withColumn("image", ops.run_image_ops("image", CHAIN))
        with span("operators.images.run_with_table"):
            df = ops.run_with_table(df, "Analyze Particles...")
        with span("operators.images.image_stats"):
            df = df.withColumn("stats", ops.image_stats("raw"))
        with span("operators.images.image_histogram"):
            df = df.withColumn("hist", ops.image_histogram("raw"))
        with span("sources.images.save_images"):
            src.save_images(df, os.path.join(out, "masks"), suffix=".tif")
        with span("operators.images.table_sink"):
            df.select("path", "table", "stats", "hist").write.parquet(os.path.join(out, "tables"))
        return out

    def sweep(self) -> list:
        from pyspark.sql import functions as F

        from spark_ij_spark.operators.sweep import run_range

        span = self.tracer.span
        df = self.spark.read.parquet(self.plates_dir).withColumn("raw", F.col("image"))
        with span("operators.sweep.run_range"):
            swept = run_range(df, SWEEP_CMD, SWEEP_FROM, SWEEP_TO, steps=SWEEP_STEPS)
        swept.createOrReplaceTempView("swept")
        with span("functions.sql.sweep_query"):
            return self.spark.sql(self.SQL).collect()

    def keep(self, out: tuple[str, list], i: int) -> str:
        files_dir, rows = out
        with open(os.path.join(files_dir, "sweep.json"), "w") as fh:
            json.dump([r.asDict() for r in rows], fh)
        return files_dir


class CorpusQueries:
    """Three corpus queries from ``queries()``, each split into build
    (DataFrame construction, with its eager jobs), plan and execution.
    ``collect()`` is the sink, so every pass's rows can be hashed."""

    def __init__(self, spark, tracer, inputs: dict, out_root: str):
        self.spark, self.tracer = spark, tracer
        self.sf_dir = inputs["sf_dir"]
        self.out_root = out_root

    def register(self) -> None:
        import __spark_entry__ as entry

        with self.tracer.span("entry.queries"):
            qs = entry.queries()
        self.fns = {n: qs[n] for n in CORPUS_QUERIES}

    def run_pass(self, i: int) -> dict:
        span = self.tracer.span
        out = {}
        for name, fn in self.fns.items():
            layer = f"{CORPUS_QUERIES[name]}.{name}"
            with span(layer):
                with span(layer + ".build"):
                    df = fn(self.spark, self.sf_dir)
                with span(layer + ".plan"):
                    df._jdf.queryExecution().executedPlan()
                with span(layer + ".exec"):
                    rows = df.collect()
            out[name] = (df.columns, rows)
        return out

    def keep(self, out: dict, i: int) -> str:
        hashes = {}
        for name, (columns, rows) in out.items():
            cols = sorted(columns)
            hashes[name] = row_hash(cols, [tuple(r[c] for c in cols) for r in rows])
        path = os.path.join(self.out_root, f"pass{i:03d}.json")
        with open(path, "w") as fh:
            json.dump(hashes, fh)
        return path


WORKLOADS = {
    "images": Images,
    "corpus_queries": CorpusQueries,
}


def discard(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)
