"""Statistics of a corpus, to show the generated one matches the reference.

    python3 perfbench/corpus_stats.py --seeds 1 2            # generated corpora
    python3 perfbench/corpus_stats.py --reference DIR --jobs # a parquet dir too

For each corpus it prints row counts, text-length quantiles, source and
language shares and the near-duplicate pair count at the dedup Jaccard
threshold (from the DuckDB oracle of ``dedup_ngram_jaccard``); with
``--jobs`` also the number of Spark jobs each ``corpus_queries`` query
launches while its DataFrame is built. ``reference_sf0.01.json`` holds
these figures for the reference tables; ``--write-reference`` refreshes
it from ``--reference``. ``compare`` is the fidelity rule the tests use.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import inputs  # noqa: E402

REFERENCE_FILE = os.path.join(HERE, "reference_sf0.01.json")
#: build jobs a query may launch beyond or short of the reference on the
#: same data: pipeline_leakage_split's label-propagation loop probes for
#: a changed label with ``limit(1).count()``, and how many partitions
#: that probe scans (one job per step) follows AQE's coalescing of the
#: preceding shuffle, which varies from run to run (24 or 25 jobs on the
#: reference tables).
BUILD_JOB_JITTER = {"pipeline_leakage_split": 1}


def corpus_stats(sf_dir: str) -> dict:
    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pandas()
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pandas()
    words = docs.text.str.split().str.len()
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, 'documents.parquet')}'")
        pairs = con.execute(
            f"SELECT count(*) FROM ({entry.oracle_sql()['dedup_ngram_jaccard']})").fetchone()[0]
    finally:
        con.close()
    return {
        "documents": len(docs),
        "embeddings": len(emb),
        "n_chars_quartiles": [float(docs.n_chars.quantile(q)) for q in (0.25, 0.5, 0.75)],
        "words_min_max": [int(words.min()), int(words.max())],
        "sources": int(docs.source.nunique()),
        "source_share_max": float(docs.source.value_counts(normalize=True).max()),
        "lang_shares": {k: float(v) for k, v in
                        docs.lang.value_counts(normalize=True).sort_index().items()},
        "near_dup_pairs": int(pairs),
    }


def build_jobs(sf_dirs: list[str]) -> list[dict[str, int]]:
    """Jobs each query launches while its DataFrame is built, per corpus,
    from one Spark session (each build runs under its own job group)."""
    import __spark_entry__ as entry
    from spark_ij_spark.session import get_spark

    spark = get_spark("perfbench-corpus-stats", cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        qs = entry.queries()
        out = []
        for k, sf_dir in enumerate(sf_dirs):
            counts = {}
            for name in checks.CORPUS_QUERIES:
                group = f"stats-{k}-{name}"
                spark.sparkContext.setJobGroup(group, name)
                qs[name](spark, sf_dir)
                counts[name] = len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
            spark.sparkContext._jsc.clearJobGroup()
            out.append(counts)
        return out
    finally:
        spark.stop()


def compare(got: dict, ref: dict) -> list[str]:
    """Where ``got`` departs from ``ref`` beyond sampling noise."""
    bad = []
    for key in ("documents", "embeddings", "sources", "near_dup_pairs"):
        if got[key] != ref[key]:
            bad.append(f"{key}: {got[key]} != {ref[key]}")
    for name, jobs in got.get("build_jobs", {}).items():
        if abs(jobs - ref["build_jobs"][name]) > BUILD_JOB_JITTER.get(name, 0):
            bad.append(f"build_jobs {name}: {jobs} vs {ref['build_jobs'][name]}")
    for g, r in zip(got["n_chars_quartiles"], ref["n_chars_quartiles"]):
        if abs(g - r) > 0.1 * r:
            bad.append(f"n_chars quartile {g} vs {r}")
    if abs(got["source_share_max"] - ref["source_share_max"]) > 0.01:
        bad.append(f"source share {got['source_share_max']} vs {ref['source_share_max']}")
    for lang, share in ref["lang_shares"].items():
        if abs(got["lang_shares"].get(lang, 0.0) - share) > 0.05:
            bad.append(f"lang {lang}: {got['lang_shares'].get(lang)} vs {share}")
    return bad


def generated_dirs(seeds: list[int], tmp: str) -> list[str]:
    dirs = []
    for seed in seeds:
        d = os.path.join(tmp, f"seed{seed}")
        inputs.write_corpus(d, seed)
        dirs.append(d)
    return dirs


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=int, nargs="*", default=[1, 2])
    ap.add_argument("--reference", help="directory with documents/embeddings parquet")
    ap.add_argument("--jobs", action="store_true", help="also count build jobs (starts Spark)")
    ap.add_argument("--write-reference", action="store_true")
    args = ap.parse_args(argv)
    with open(REFERENCE_FILE) as fh:
        ref = json.load(fh)
    work = os.path.join(ROOT, ".bench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        labels = [f"seed {s}" for s in args.seeds]
        dirs = generated_dirs(args.seeds, tmp)
        if args.reference:
            labels.append("reference")
            dirs.append(args.reference)
        stats = [corpus_stats(d) for d in dirs]
        if args.jobs:
            for s, jobs in zip(stats, build_jobs(dirs)):
                s["build_jobs"] = jobs
    if args.write_reference:
        with open(REFERENCE_FILE, "w") as fh:
            json.dump(stats[-1], fh, indent=1, sort_keys=True)
            fh.write("\n")
        ref = stats[-1]
    bad = 0
    for label, s in zip(labels, stats):
        issues = compare(s, ref)
        bad += bool(issues)
        print(json.dumps({"corpus": label, **s}, sort_keys=True))
        for issue in issues:
            print(f"  departs from reference: {issue}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
