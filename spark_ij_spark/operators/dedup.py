"""Deduplication operators over ``documents`` / ``embeddings``.

North-star training-data-pipeline ops (SURVEY.md §7.1 M7): exact
dedup, n-gram Jaccard near-dup, MinHash+LSH, SimHash, and
embedding-cosine near-dup. Conceptual seed in the reference is its
one similarity metric, normalized histogram distance
(`IJHistogram.scala:34-41`); these generalize it to document/text and
vector similarity at corpus scale.

All hashing is md5-derived 60-bit ints that DuckDB reproduces
bit-for-bit, so even the MinHash/SimHash pipelines have exact
value-hash oracles (same algorithm, independent engine).

Scale design (100 TB):
- Signature computation (minhash, simhash votes, fingerprints) is
  map-only or a partial-aggregating groupBy — no cross joins.
- Candidate generation is an inverted-index self-join (shingle → doc
  or band → doc): shuffle on the posting key, never an all-pairs
  product. Hot shingles (stopword-only 3-grams) are the skew risk;
  AQE skew-join handles moderate skew, and a posting-length cap
  (drop shingles appearing in >X% of docs) is the standard mitigation
  documented here for the real cluster.
- The brute-force embedding pass is the small-N baseline; the LSH
  bucketed variant in ``similarity.py`` is the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_ij_spark.operators.text import (
    SHINGLES_DUCK,
    SHINGLES_SPARK,
    TOKENS_DUCK,
    TOKENS_SPARK,
    _docs,
    hash60_duck,
    hash60_spark,
)

JACCARD_THRESHOLD = 0.2
MINHASH_K = 8          # permutations
LSH_BANDS = 4          # bands of r = K / BANDS rows each
SIMHASH_BITS = 48
SIMHASH_MAX_HAMMING = 8
EMBED_COS_THRESHOLD = 0.4


#: declared embedding dimensionality (the table contract; FIXTURES.md)
EMB_DIM = 64


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytics-grade embeddings scan: rows whose vector is NULL, not
    EMB_DIM wide, or carrying any non-finite element (NULL/NaN/±Inf —
    an overflowed embedder) are dropped AT THE SCAN. A real corpus
    carries failed-embedder rows (null/empty arrays) and they crash every
    downstream path differently (zero-norm cosine → division by zero,
    ragged np.stack in the block matmul, DuckDB list_dot_product
    dimension errors — all observed in the round-8 null-injection
    sweep, tools/make_nulls.py), so integrity filtering happens once,
    here, for EVERY embedding analytics op on both engines
    (EMB_CLEAN_DUCK is the oracle mirror). Audit queries
    (integrity_docs_embeddings) deliberately read the raw table."""
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.expr(
            f"embedding IS NOT NULL AND size(embedding) = {EMB_DIM}"
            " AND NOT exists(embedding, x -> x IS NULL OR isnan(x)"
            " OR abs(x) = CAST('Infinity' AS DOUBLE))"
        )
    )


#: DuckDB mirror of the _emb integrity filter — use as
#: `FROM {EMB_CLEAN_DUCK} embeddings` in every analytics oracle.
#: The value-identity list_transform is a deliberate materialization
#: barrier: DuckDB's list_inner_product null-check scans the list
#: vector's RAW child buffer, so when the filtered rows are dictionary
#: slices over a buffer that still holds a dropped NULL row's entries,
#: a downstream cross/equi join errors with "argument can not contain
#: NULL values" even though every SELECTED row is clean (reproduced
#: round 8 on the make_nulls.py dataset; the rebuilt buffer is flat
#: and the error disappears). Identity on values — null-free grades
#: are bit-identical with or without it.
EMB_CLEAN_DUCK = (
    "(SELECT vec_id, list_transform(embedding, x -> x) AS embedding, "
    "label FROM embeddings "
    f"WHERE embedding IS NOT NULL AND len(embedding) = {EMB_DIM}"
    " AND len(list_filter(embedding, x -> x IS NULL OR isnan(x)"
    " OR abs(x) = CAST('Infinity' AS DOUBLE))) = 0)"
)


def emb_with_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, nrm): L2 norm precomputed map-side so pair
    joins only evaluate the dot product."""
    return _emb(spark, sf_dir).select(
        "vec_id", "embedding", F.expr(SELF_NORM_SPARK).alias("nrm")
    )


# Posting-length cap: drop shingles appearing in more than this
# fraction of documents before any inverted-index self-join. At web
# scale, stopword-only shingles ("of the and", boilerplate headers)
# produce posting lists of millions of docs — the self-join on such a
# key is quadratic in the list length and AQE skew-split alone won't
# save it. Near-dup semantics survive: a feature present in >10% of
# the corpus carries no dedup signal. The default is far above any
# real shingle frequency at test SF (max observed: 1.4% at sf0.01,
# 0.5% at sf0.1), so DuckDB oracles stay bit-identical.
MAX_SHINGLE_DOC_FRAC = 0.10


def shingle_postings(
    spark: SparkSession,
    sf_dir: str,
    max_doc_frac: float | None = MAX_SHINGLE_DOC_FRAC,
) -> DataFrame:
    """(doc_id, s, n) inverted-index postings: distinct word-3-grams
    plus ``n``, the doc's POST-CAP shingle-set size, computed map-side
    from the per-doc array before the explode. Carrying n on every
    posting row is what lets the whole Jaccard family skip the
    per-doc ``sizes`` aggregate AND the two pair-frame re-joins that
    attached na/nb after the pair aggregation (r12, guide §2.4: three
    corpus-scale exchanges removed for ~8 bytes per posting row on the
    one exchange that remains; consumers that don't read n never
    compute it — Catalyst prunes the size()).

    Shingles with document frequency > ``max_doc_frac`` of the corpus
    are dropped (``None`` disables). The hot-shingle set is still a
    tiny aggregate (bounded above by avg_shingles_per_doc/max_doc_frac
    values by construction), but it now comes back as ONE collect_set
    row cross-joined onto the per-doc arrays, so the cap subtracts
    from the ARRAY (keeping size(arr) == the capped posting count)
    instead of anti-joining the exploded postings — same result set,
    and n stays exactly the count the sizes aggregate used to produce.

    Shape notes (measured r5→6, re-measured r11/r12):
    - a window count over the shingle key computes df in ONE scan but
      shuffles the ENTIRE postings frame before the self-join — +31%
      wall at sf0.1 where the cap never binds; the aggregate +
      broadcast form stays.
    - (doc_id, shingle) duplicates only ever occur WITHIN one
      document, so ``array_distinct`` on the per-doc shingle array
      dedupes map-side and the global ``distinct()`` — a full shuffle
      of the postings — is dropped outright (guide §2.4; identical
      result set, measured 2.1x on the postings pass at sf0.1).
    - with the shuffle gone the postings pass is a pure map, so the
      df aggregate re-runs it instead of persisting the raw superset
      (measured: recompute 1.17 s vs persist 1.60 s at sf0.1; at
      scale it trades one extra map pass over the scan for not
      materializing a corpus-sized postings frame twice — downstream
      consumers cache the CAPPED output already)."""
    # spread BEFORE tokenize (session.spread, no-op at scale): the
    # driver testdata is single-row-group parquet, so the tokenize+
    # shingle pass — and every postings frame CACHED off it by the
    # dedup family — would otherwise plan as ONE task and keep the
    # 1-partition layout through the cache, serializing all downstream
    # consumers (measured r11: dedup_ngram_jaccard steady-state 2.54 →
    # 1.49 s at sf0.1 from the cached postings regaining parallel
    # layout alone).
    from spark_ij_spark.session import spread

    base = spread(_docs(spark, sf_dir), "doc_id").withColumn(
        "toks", F.expr(TOKENS_SPARK)
    )
    docs_arr = base.select(
        "doc_id", F.expr(f"array_distinct({SHINGLES_SPARK})").alias("arr")
    )
    if max_doc_frac is not None and max_doc_frac < 1.0:
        # The df aggregate keeps the FUSED explode(array_distinct(...))
        # generator form: exploding a pre-projected `arr` column
        # measured 4.7 s vs 1.1 s for the same aggregate at sf0.1 (the
        # Project→Generate split does not fuse). The hot set comes back
        # as ONE collect_set row cross-joined on (lazy — an eager
        # driver collect serialized a full corpus job ahead of the main
        # job on every call), and the cap subtracts from the per-doc
        # ARRAY via array_except, so size(arr) below is exactly the
        # capped posting count the old sizes aggregate produced.
        hot = (
            base.select(
                F.explode(
                    F.expr(f"array_distinct({SHINGLES_SPARK})")
                ).alias("s")
            )
            .groupBy("s")
            .agg(F.count("*").alias("df"))
            .filter(
                F.expr(
                    f"df > (SELECT count(*) FROM parquet.`{sf_dir}/documents.parquet`)"
                    f" * {max_doc_frac}"
                )
            )
            .agg(F.collect_set("s").alias("hot"))
        )
        docs_arr = docs_arr.crossJoin(F.broadcast(hot)).select(
            "doc_id",
            F.expr("array_except(arr, coalesce(hot, array()))").alias("arr"),
        )
    # ONE Generate emits (s, n) structs with the array bound once as a
    # lambda variable (CLAUDE.md bind-once rule): size(arr) alongside
    # an explode(arr) would let CollapseProject inline the whole
    # tokenize+shingle pipeline TWICE per row (measured 4.8 s vs
    # 0.8 s for this pass at sf0.1), and a size() computed after the
    # explode would keep the array required downstream, copying it
    # into every exploded row.
    return docs_arr.select(
        "doc_id",
        F.expr(
            "inline(flatten(transform(array(arr), a -> "
            "transform(a, x -> named_struct('s', x, 'n', size(a))))))"
        ),
    )


# Mirrors shingle_postings EXACTLY, including the MAX_SHINGLE_DOC_FRAC
# hot-shingle cap — a no-op at every test SF (hottest shingle: 1.4% at
# sf0.01) but mirrored anyway so Spark and the oracle stay equivalent
# at any SF where the cap starts to bind.
_POSTINGS_DUCK = f"""
  WITH sh0 AS (
    SELECT DISTINCT doc_id, unnest({SHINGLES_DUCK.replace('toks', TOKENS_DUCK)}) AS s
    FROM documents)
  SELECT doc_id, s FROM sh0
  WHERE s NOT IN (
    SELECT s FROM sh0 GROUP BY s
    HAVING COUNT(*) > (SELECT COUNT(*) FROM documents) * {MAX_SHINGLE_DOC_FRAC})
"""


# 6-decimal rounding of integer-ratio quotients (jaccard/containment/
# clustering coefficient) relies on Spark round(DOUBLE) being HALF-UP
# like DuckDB's, INCLUDING at exact binary-fraction ties (97/128 =
# 0.7578125 → 0.757813 on both engines; empirically probed, and
# guarded by tests/test_north_star.py::test_round_agrees_at_exact_
# binary_fraction_tie). The half-even divergence CLAUDE.md documents
# for embed_power_iteration does NOT apply to round(DOUBLE, 6) — do
# NOT "fix" these with a floor(x*1e6+0.5)/1e6 form: the 1000000.0
# literal parses as DECIMAL in Spark and poisons the output type.

def _jaccard_pairs(sh: DataFrame) -> DataFrame:
    """Inverted-index self-join → (da, db, i, na, nb, jaccard) for all
    co-shingled pairs. Shuffles on the shingle key, then on the
    (da, db) pair key — both partial-aggregated map-side.

    The set sizes ride the postings rows (shingle_postings carries the
    map-side n), so the pair frame never re-joins a per-doc sizes
    aggregate: any_value over the group is exact because n is a pure
    function of the doc id. r12 (guide §2.4): removes the sizes
    groupBy exchange plus BOTH pair-frame size joins — the pair frame
    is shuffled exactly once, on its own (da, db) key.

    The postings frame feeds both self-join sides; persist it so
    tokenize+explode+cap run once. MEMORY_AND_DISK (cache default)
    spills rather than OOMs when the posting list outgrows executor
    memory at scale."""
    sh = sh.cache()
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(
            F.count("*").alias("i"),
            F.expr("any_value(a.n)").alias("na"),
            F.expr("any_value(b.n)").alias("nb"),
        )
        .withColumn("jaccard", F.expr("round(CAST(i AS DOUBLE) / (na + nb - i), 6)"))
    )


_JACCARD_PAIRS_DUCK = f"""
sh AS ({_POSTINGS_DUCK}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
jac AS (
  SELECT da, db, i, sa.n AS na, sb.n AS nb,
         round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON inter.da = sa.doc_id
  JOIN sizes sb ON inter.db = sb.doc_id)
"""


# --- exact dedup -------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct text,
    keeping the minimum doc_id. Single hash-agg shuffle; at 100 TB the
    md5 is computed in the scan stage and only (hash, id) shuffles."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count("*").alias("n_copies"))
    )


Q_DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, min(doc_id) AS kept_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


# --- n-gram Jaccard near-dup ------------------------------------------


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with word-3-gram Jaccard ≥ threshold, via exact
    inverted-index join (no approximation)."""
    return (
        _jaccard_pairs(shingle_postings(spark, sf_dir))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("da", "db", "jaccard")
    )


Q_DEDUP_NGRAM_JACCARD_SQL = f"""
WITH {_JACCARD_PAIRS_DUCK}
SELECT da, db, jaccard FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
"""


# --- MinHash + LSH -----------------------------------------------------

_LSH_ROWS = MINHASH_K // LSH_BANDS  # rows per band


# Affine permutation family over the 31-bit hash domain: one md5 per
# shingle, then K cheap (a·h + b) mod p permutations — the classic
# MinHash construction, 8x fewer md5 calls than hashing per permutation.
# p = 2^31-1 (prime); a/b are fixed odd constants < p, so a·h + b < 2^62
# never overflows BIGINT and Spark/DuckDB compute it identically.
_MH_P = 2147483647
_MH_PARAMS = [(2 * j + 3, 12345 + 777 * j) for j in range(MINHASH_K)]


def minhash_signatures(
    spark: SparkSession, sf_dir: str, postings: DataFrame | None = None
) -> DataFrame:
    """Per-doc MinHash signature: permutation j = min over the doc's
    distinct shingles of (a_j·h31(shingle) + b_j) mod p, computed from
    the inverted-index postings as one partial-aggregating groupBy.
    Pass the (cached) ``postings`` frame to share the tokenize+explode
    scan with the LSH verify stage — duplicates never affect a min, so
    distinct postings yield the identical signature the per-doc shingle
    array would. Docs with no shingles (<3 tokens) drop out here and
    produce no candidates either way."""
    sh = postings if postings is not None else shingle_postings(spark, sf_dir)
    h = sh.withColumn(
        "h31", F.expr(f"({hash60_spark('s')} & 2147483647) % {_MH_P}")
    )
    aggs = [
        F.min(F.expr(f"({a} * h31 + {b}) % {_MH_P}")).alias(f"mh{j}")
        for j, (a, b) in enumerate(_MH_PARAMS)
    ]
    return h.groupBy("doc_id").agg(*aggs)


def _band_exprs() -> list[str]:
    """Band keys: concatenation of the band's minhash rows."""
    out = []
    for j in range(LSH_BANDS):
        rows = ", ',', ".join(f"mh{j * _LSH_ROWS + r}" for r in range(_LSH_ROWS))
        out.append(f"concat('{j}:', {rows})")
    return out


def minhash_bands(
    spark: SparkSession, sf_dir: str, postings: DataFrame | None = None
) -> DataFrame:
    """(doc_id, band) frame: signatures → band explode. The band
    layout is defined HERE (and in ``_BANDS_DUCK``) once — the
    self-join candidate generator and the delta-vs-corpus incremental
    join both build on it."""
    sig = minhash_signatures(spark, sf_dir, postings=postings)
    return sig.select(
        "doc_id",
        F.explode(F.array(*[F.expr(e) for e in _band_exprs()])).alias("band"),
    )


def lsh_candidate_pairs(
    spark: SparkSession, sf_dir: str, postings: DataFrame | None = None
) -> DataFrame:
    """THE band-bucket candidate generator: signatures → band explode →
    band equi-join → distinct (da < db) pairs. Single-sourced so the
    production path (``q_dedup_minhash_lsh``) and its measurement
    (``q_dedup_lsh_audit``) can never drift apart — a retune of K or
    the band layout changes both, or the audit is measuring a
    different generator than production runs."""
    bands = minhash_bands(spark, sf_dir, postings=postings)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: K-permutation signatures → band buckets →
    equi-join candidates → verify with true Jaccard. The candidate join
    shuffles on the band key only (never all-pairs); this is the
    shingle→minhash→band→bucket-join scale path for 100 TB dedup."""
    post = shingle_postings(spark, sf_dir).cache()
    cand = lsh_candidate_pairs(spark, sf_dir, postings=post)
    # Verify ONLY the candidate pairs: semi-join-reduce the postings to
    # candidate docs before the inverted-index intersection, instead of
    # computing Jaccard for every co-shingled pair in the corpus. The
    # candidate set is tiny (LSH's point), so both joins stay small.
    # Same cached postings frame as the signatures — one scan total.
    # Set sizes ride the posting rows (shingle_postings n), so no
    # per-doc sizes aggregate and no post-agg size joins (r12 §2.4).
    pa = post.select(F.col("doc_id").alias("da"), "s", F.col("n").alias("na"))
    pb = post.select(F.col("doc_id").alias("db"), "s", F.col("n").alias("nb"))
    return (
        cand.join(pa, "da")          # (da, db, s, na) for each shingle of da
        .join(pb, ["db", "s"])       # keep shingles db also has
        .groupBy("da", "db")
        .agg(
            F.count("*").alias("i"),
            F.expr("any_value(na)").alias("na"),
            F.expr("any_value(nb)").alias("nb"),
        )
        .select(
            "da",
            "db",
            F.expr("round(CAST(i AS DOUBLE) / (na + nb - i), 6)").alias("jaccard"),
        )
    )


def _band_exprs_duck() -> list[str]:
    out = []
    for j in range(LSH_BANDS):
        rows = " || ',' || ".join(f"mh{j * _LSH_ROWS + r}" for r in range(_LSH_ROWS))
        out.append(f"'{j}:' || {rows}")
    return out


# Signatures from the SAME capped postings CTE the verify stage uses
# (mirrors minhash_signatures(postings=...): a min is duplicate- and
# order-insensitive, and the cap is mirrored inside _POSTINGS_DUCK).
_MINHASH_SIG_DUCK = f"""
shp AS ({_POSTINGS_DUCK}),
hsh AS (
  SELECT doc_id, ({hash60_duck('s')} & 2147483647) % {_MH_P} AS h31 FROM shp),
sig AS (
  SELECT doc_id, {", ".join(
      f"MIN(({a} * h31 + {b}) % {_MH_P}) AS mh{j}"
      for j, (a, b) in enumerate(_MH_PARAMS))}
  FROM hsh GROUP BY doc_id)
"""

# Shared band+candidate CTEs — the DuckDB mirror of
# lsh_candidate_pairs; Q_DEDUP_MINHASH_SQL and Q_DEDUP_LSH_AUDIT_SQL
# splice in this one fragment so the audited generator IS the
# production generator on the oracle side too.
_BANDS_DUCK = f"""bands AS (
  SELECT doc_id, unnest([{", ".join(_band_exprs_duck())}]) AS band FROM sig)"""

_LSH_CAND_DUCK = f"""
{_BANDS_DUCK},
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)
"""

Q_DEDUP_MINHASH_SQL = f"""
WITH {_MINHASH_SIG_DUCK},
{_LSH_CAND_DUCK.strip()},
{_JACCARD_PAIRS_DUCK.strip().rstrip(',').lstrip()}
SELECT cand.da, cand.db, jac.jaccard
FROM cand JOIN jac ON cand.da = jac.da AND cand.db = jac.db
"""


# --- SimHash -----------------------------------------------------------


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMHASH_BITS-bit SimHash per doc over word-3-gram shingle
    features (tokens are too weak on a small shared vocabulary — most
    docs contain most tokens), computed relationally as ONE
    partial-aggregating groupBy: per doc, SIMHASH_BITS ones-count
    sums (one per bit) plus the shingle count, then fingerprint =
    Σ (2·ones_b > n) << b — algebraically identical to the ±1 vote sum
    (vote_b = 2·ones_b − n > 0 ⇔ 2·ones_b > n). The previous form
    exploded postings × SIMHASH_BITS (a 48x row multiplier through a
    corpus-wide shuffle) into a (doc, bit) groupBy plus a second
    groupBy; this shape shuffles only |docs| rows of 49 BIGINTs
    (guide §2.3 "aggregate before you shuffle"; identical output,
    measured at sf0.1 and oracle unchanged)."""
    toks = shingle_postings(spark, sf_dir).withColumn(
        "h", F.expr(hash60_spark("s"))
    )
    aggs = [
        F.expr(f"sum((h >> {b}) & 1)").alias(f"o{b}")
        for b in range(SIMHASH_BITS)
    ] + [F.count("*").alias("nsh")]
    fp_expr = " + ".join(
        f"(CASE WHEN 2 * o{b} > nsh THEN shiftleft(CAST(1 AS BIGINT), {b})"
        " ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_BITS)
    )
    return (
        toks.groupBy("doc_id")
        .agg(*aggs)
        .select("doc_id", F.expr(fp_expr).alias("fp"))
    )


_SIMHASH_FP_DUCK = f"""
shpost AS ({_POSTINGS_DUCK}),
th AS (SELECT doc_id, {hash60_duck('s')} AS h FROM shpost),
votes AS (
  SELECT doc_id, b, sum(2 * ((h >> b) & 1) - 1) AS vote
  FROM th, (SELECT unnest(range(0, {SIMHASH_BITS})) AS b)
  GROUP BY doc_id, b),
fp AS (
  SELECT doc_id,
         sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS fp
  FROM votes GROUP BY doc_id)
"""


# Pigeonhole blocking: SIMHASH_MAX_HAMMING+1 blocks over the 48 bits.
# Any pair with hamming ≤ max must agree exactly on ≥ 1 block, so an
# equi-join on (block_idx, block_bits) finds every qualifying pair.
SIMHASH_BLOCKS = SIMHASH_MAX_HAMMING + 1
_SIMHASH_BOUNDS = [
    i * SIMHASH_BITS // SIMHASH_BLOCKS for i in range(SIMHASH_BLOCKS + 1)
]


def simhash_block_rows(fp: DataFrame) -> DataFrame:
    """Explode (doc_id, fp) → one row per fingerprint block:
    (doc_id, fp, bi, bits). fp rides along so the candidate join can
    score hamming without a second lookup join."""
    blocks = [
        F.struct(
            F.lit(i).alias("bi"),
            F.expr(
                f"(fp >> {_SIMHASH_BOUNDS[i]})"
                f" & {(1 << (_SIMHASH_BOUNDS[i + 1] - _SIMHASH_BOUNDS[i])) - 1}"
            ).alias("bits"),
        )
        for i in range(SIMHASH_BLOCKS)
    ]
    return fp.select(
        "doc_id", "fp", F.explode(F.array(*blocks)).alias("blk")
    ).select("doc_id", "fp", F.col("blk.bi").alias("bi"), F.col("blk.bits").alias("bits"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: hamming(fp_a, fp_b) ≤ threshold, via
    pigeonhole block equi-join — split each fingerprint into
    max_hamming+1 bit blocks; a qualifying pair shares at least one
    exact block, so candidates come from an equi-join on
    (block_idx, block_bits), never an all-pairs product. The join
    shuffles on the block key; `distinct` collapses pairs that match
    in several blocks. Exact (same result set as brute force — the
    DuckDB oracle stays all-pairs), and the plan is a hash equi-join
    that survives corpus scale."""
    # fp is one bigint per doc; cache it so the two-vote-groupBy
    # fingerprint pipeline runs once, not once per self-join side.
    blk = simhash_block_rows(simhash_fingerprints(spark, sf_dir).cache())
    a, b = blk.alias("a"), blk.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            F.expr("bit_count(a.fp ^ b.fp)").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
    )


Q_DEDUP_SIMHASH_SQL = f"""
WITH {_SIMHASH_FP_DUCK}
SELECT a.doc_id AS da, b.doc_id AS db, bit_count(xor(a.fp, b.fp)) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= {SIMHASH_MAX_HAMMING}
"""


# --- embedding cosine near-dup ----------------------------------------

DOT_SPARK = (
    "aggregate(zip_with(a.embedding, b.embedding,"
    " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)

SELF_NORM_SPARK = (
    "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
)

# cos over pre-normed pair aliases a/b: norms are computed once per
# vector (map-only) instead of once per pair — identical IEEE result,
# since sqrt(Σx²) per side is the exact same expression either way.
COS_SPARK = f"{DOT_SPARK} / (a.nrm * b.nrm)"

COS_DUCK = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)


EMBED_BLOCKS = 8
# Block-matmul tile bound: each cogroup tile holds ~(2·TARGET)² score
# cells in one numpy matmul, so the block count must GROW with the
# vector count — a static 8 blocks put 25k vectors/block at the sf~10
# replica sweep and the ~5 GB dense tile killed the JVM (measured,
# round 8). embed_blocks() keeps tiles bounded; at the oracle SFs it
# returns EMBED_BLOCKS unchanged (plans and outputs identical — the
# tiling is a Spark-side cover, never visible in the pair set).
EMBED_BLOCK_TARGET_ROWS = 4000
EMBED_QUANT = 1000000.0


def embed_blocks(n_vecs: int) -> int:
    """Block count for the dense-similarity tile cover of ``n_vecs``
    vectors — bounds any single tile's matmul at ~TARGET² cells."""
    import math

    return max(EMBED_BLOCKS, math.ceil(n_vecs / EMBED_BLOCK_TARGET_ROWS))


def quantized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, qv): embedding quantized to 1e6-scaled BIGINTs.

    Why quantize: every dot-product partial sum then stays an exact
    integer < 2^53, so the cosine is bit-identical no matter what
    summation order an engine (numpy matmul, DuckDB, Spark) uses —
    float-accumulation order stops being a correctness hazard."""
    return _emb(spark, sf_dir).select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> TRY_CAST(round(CAST(x AS DOUBLE) * {EMBED_QUANT}) AS BIGINT))"
        ).alias("qv"),
    )


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ threshold) via block
    nested-loop matmul: vectors are hashed into ``embed_blocks(n)``
    blocks (data-derived so a tile's dense score matrix stays bounded
    — see EMBED_BLOCK_TARGET_ROWS), each block-pair is cogrouped once,
    and a numpy int64 matmul scores the whole tile. Replication factor
    is the block count per side; no all-pairs row join ever
    materializes. This is the 100 TB-shaped exact baseline; the LSH
    bucketed variant in similarity.py trades recall for candidate
    pruning."""
    import numpy as np
    import pandas as pd

    # O(1) driver scalar from parquet footers (same role as the edge
    # count in cc_partitions); the RAW count deliberately skips the
    # _emb integrity filter so Spark answers it from row-group
    # metadata instead of paying a full corpus pass (the filtered
    # count would need the exists() lambda per row). It upper-bounds
    # the clean count, and tiling is output-invariant, so the oracle
    # needs no mirror of it.
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    n_blocks = embed_blocks(n_vecs)
    q = quantized_embeddings(spark, sf_dir).withColumn(
        "blk", F.expr(f"CAST(vec_id % {n_blocks} AS INT)")
    )
    other = spark.range(n_blocks).select(F.col("id").cast("int").alias("ob"))
    left = (
        q.crossJoin(F.broadcast(other))
        .filter(F.col("blk") <= F.col("ob"))
        .select(F.col("blk").alias("bi"), F.col("ob").alias("bj"), "vec_id", "qv")
    )
    # Deliberately re-derived (NOT `q` reused): the cogrouped
    # block-matmul puts this frame on both sides of a self-cogroup,
    # and Spark's ambiguous-self-join analyzer rejects one shared
    # DataFrame object there (AMBIGUOUS_SELF_JOIN on qv/vec_id).
    q2 = quantized_embeddings(spark, sf_dir).withColumn(
        "blk", F.expr(f"CAST(vec_id % {n_blocks} AS INT)")
    )
    right = (
        q2.crossJoin(F.broadcast(other))
        .filter(F.col("ob") <= F.col("blk"))
        .select(F.col("ob").alias("bi"), F.col("blk").alias("bj"), "vec_id", "qv")
    )

    thresh = EMBED_COS_THRESHOLD

    def block_cos(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"ia": [], "ib": [], "cos": []})
        A = np.asarray(list(lpdf["qv"]), dtype=np.int64)
        B = np.asarray(list(rpdf["qv"]), dtype=np.int64)
        ai = lpdf["vec_id"].to_numpy()
        bi = rpdf["vec_id"].to_numpy()
        dots = (A @ B.T).astype(np.float64)  # exact: |dot| < 2^53
        na = np.sqrt((A * A).sum(axis=1).astype(np.float64))
        nb = np.sqrt((B * B).sum(axis=1).astype(np.float64))
        cos = dots / (na[:, None] * nb[None, :])
        mask = cos >= thresh
        if key[0] == key[1]:
            # diagonal tile holds both orientations of each pair —
            # keep one; off-diagonal tiles hold each pair exactly once.
            mask &= ai[:, None] < bi[None, :]
        ii, jj = np.nonzero(mask)
        return pd.DataFrame(
            {
                "ia": np.minimum(ai[ii], bi[jj]),
                "ib": np.maximum(ai[ii], bi[jj]),
                "cos": cos[ii, jj],
            }
        )

    out = (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(block_cos, "ia long, ib long, cos double")
    )
    # round JVM-side: Spark/DuckDB round() agree (half away from zero),
    # numpy's banker's rounding would not.
    return out.select("ia", "ib", F.expr("round(cos, 6)").alias("cos_sim"))


_QCOS_DUCK = "list_dot_product(a.qv::DOUBLE[], b.qv::DOUBLE[]) / (a.nrm * b.nrm)"

Q_DEDUP_EMBEDDING_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {EMBED_QUANT}) AS BIGINT)) AS qv
  FROM {EMB_CLEAN_DUCK} embeddings),
n AS (
  SELECT vec_id, qv,
         sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) AS nrm
  FROM q)
SELECT a.vec_id AS ia, b.vec_id AS ib, round({_QCOS_DUCK}, 6) AS cos_sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE {_QCOS_DUCK} >= {EMBED_COS_THRESHOLD}
"""


# Connected-components loop sizing. The loop-frame partition count is
# DERIVED from the measured edge count (one cheap count() on the cached
# edge frame, amortized over up to CC_MAX_ROUNDS label-propagation
# rounds): ceil(edges / CC_TARGET_EDGES_PER_PARTITION), floored at
# CC_MIN_PARTITIONS so local runs keep a little parallelism. Set
# CC_PARTITIONS (int) to override with a fixed count on deploys where
# the graph size is known a priori.
CC_PARTITIONS: int | None = None
CC_MIN_PARTITIONS = 4
CC_TARGET_EDGES_PER_PARTITION = 2_000_000
CC_MAX_ROUNDS = 20


def cc_partitions(n_edges: int) -> int:
    """Loop-frame partition count for ``n_edges`` symmetric edges —
    targets ~1-10M edges/partition so a 100× bigger pair graph gets
    proportionally more tasks instead of serializing 4 fat ones."""
    if CC_PARTITIONS is not None:
        return CC_PARTITIONS
    import math

    return max(CC_MIN_PARTITIONS, math.ceil(n_edges / CC_TARGET_EDGES_PER_PARTITION))


def jaccard_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded near-dup edge list (da < db, jaccard >= t), cached —
    the ONE pair generator the graph family (clusters, triangles,
    k-core, source matrix) builds on, so a threshold or cap retune
    reaches every consumer (previously four verbatim copies)."""
    return (
        _jaccard_pairs(shingle_postings(spark, sf_dir))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("da", "db")
        .cache()
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the Jaccard≥t
    pair graph via iterative min-label propagation (the Spark shape of
    an iterative algorithm: loop of join+groupBy rounds until
    fixpoint, each round a checkpointable DataFrame). Every doc in a
    near-dup pair maps to its component's minimum doc_id — the
    canonical representative a dedup pipeline keeps.

    Scale: rounds = O(component diameter) ≈ small for dup clusters;
    each round shuffles O(edges). This is the large-graph-safe
    alternative to collecting edges driver-side."""
    edges = jaccard_edges(spark, sf_dir)
    # The pair graph is tiny relative to the corpus (that's the point of
    # dedup), but "tiny" spans orders of magnitude between sf0.01 and
    # 100 TB — size the loop frames from the MEASURED edge count (this
    # count() also materializes the edge cache, so the expensive
    # jaccard pipeline runs exactly once) instead of a fixed constant.
    # CC_MAX_ROUNDS bounds worst-case diameter (each round is one
    # label-propagation hop; the fixpoint probe exits early).
    n_parts = cc_partitions(2 * edges.count())
    sym = edges.union(edges.select(F.col("db").alias("da"), F.col("da").alias("db")))
    sym = (
        sym.withColumnRenamed("da", "src")
        .withColumnRenamed("db", "dst")
        .repartition(n_parts, "src")
        .cache()
    )
    labels = (
        sym.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .repartition(n_parts, "doc_id")
    )
    converged = False
    for _ in range(CC_MAX_ROUNDS):
        neighbor_min = (
            sym.join(labels, sym.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nlabel"))
        )
        # Carry the pre-round label through the checkpointed frame so
        # the fixpoint probe is a map-only filter over it — the
        # previous probe re-JOINED new vs old labels on doc_id every
        # round, an extra per-round join the loop doesn't need
        # (guide §2.4; measured 8.8 → 5.7 s on the full clusters query
        # at sf0.1, same-session pair).
        new_frame = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce("nlabel", "label")
                ).alias("label"),
            )
            .localCheckpoint()  # truncate loop lineage
        )
        changed = (
            new_frame.filter(F.col("label") != F.col("old_label"))
            .limit(1)
            .count()
        )
        labels = new_frame.select("doc_id", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        # Returning intermediate labels would SILENTLY diverge from the
        # oracle's exact transitive closure (and feed wrong reps to the
        # keeper/leakage-split consumers) — fail loudly instead; a
        # >20-hop component diameter means CC_MAX_ROUNDS needs raising
        # (or pointer-jumping) for this graph.
        raise RuntimeError(
            f"CC label propagation did not reach fixpoint within"
            f" {CC_MAX_ROUNDS} rounds; raise CC_MAX_ROUNDS"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_rep"))


# Shared CC-labels fragment (edges → symmetrized reach → min-rep
# labels). Every oracle that consumes cluster labels composes THIS
# fragment — Spark-side consumers all call q_dedup_clusters — so a
# retune of the labeling (threshold, symmetrization, tie-break) stays
# one code path per engine.
_CLUSTERS_DUCK = f"""
edges AS (SELECT da, db FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}),
sym AS (SELECT da AS a, db AS b FROM edges UNION ALL SELECT db, da FROM edges),
reach(id, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT sym.a, reach.r FROM sym JOIN reach ON sym.b = reach.id),
labels AS (SELECT id AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY id)
"""

Q_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_JACCARD_PAIRS_DUCK.strip()},
{_CLUSTERS_DUCK.strip()}
SELECT doc_id, cluster_rep FROM labels
"""


# --- aligned-span (substring-level) overlap ----------------------------

# Word-3-gram matches at the SAME alignment offset; a pair is reported
# when at least SPAN_RUN_MIN aligned matches exist (witnesses a shared
# token run of roughly SPAN_RUN_MIN + 2 words). Calibrated non-vacuous
# on the synthetic corpus (38 pairs at sf0.01).
SPAN_GRAM_K = 3
SPAN_RUN_MIN = 3


def q_dedup_aligned_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level near-dup detection (the span-overlap family of
    Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    Better"): find document pairs sharing word-3-grams at a CONSTANT
    position offset — the positional signature of a copied span, which
    bag-of-shingles Jaccard can't see. Reports per (pair, offset): the
    aligned-match count and the token span it covers.

    Scale shape: identical to the Jaccard inverted index — postings
    keyed by gram, one equi-join shuffle, group on (pair, offset) with
    map-side partial aggregation. Positions ride along as payload; no
    all-pairs product. Hot grams (boilerplate) take the same
    posting-cap mitigation as shingle_postings: postings whose gram
    occurs more than MAX_SHINGLE_DOC_FRAC × corpus times are dropped
    before the self-join (quadratic in posting length otherwise); the
    cap (occurrence frequency > MAX_SHINGLE_DOC_FRAC × corpus) is a
    no-op at the oracle SFs (hottest gram: 0.5%) and is MIRRORED in
    the DuckDB oracle, so both engines stay equivalent at any SF.
    Same aggregate + broadcast-anti-join shape as shingle_postings
    (see its docstring for the measured window-vs-agg tradeoff)."""
    g = (
        _docs(spark, sf_dir)
        .withColumn("toks", F.expr(TOKENS_SPARK))
        .select("doc_id", F.posexplode(F.expr(SHINGLES_SPARK)).alias("pos", "gs"))
        # join on the shared 60-bit hash, not the string: a BIGINT
        # shuffle key is ~3x cheaper to exchange and both engines
        # compute it identically (collision odds at 60 bits are moot)
        .select("doc_id", "pos", F.expr(hash60_spark("gs")).alias("g"))
        # feeds the hot-gram aggregate, the anti-join, and both self-
        # join sides — persist so tokenize+posexplode+hash runs once
        # (MEMORY_AND_DISK: spills rather than OOMs at scale)
        .persist()
    )
    hot = (
        g.groupBy("g")
        .agg(F.count("*").alias("gf"))
        .filter(
            F.expr(
                f"gf > (SELECT count(*) FROM parquet.`{sf_dir}/documents.parquet`)"
                f" * {MAX_SHINGLE_DOC_FRAC}"
            )
        )
        .select("g")
    )
    g = g.join(F.broadcast(hot), "g", "left_anti")
    a = g.select(
        F.col("doc_id").alias("da"), F.col("pos").alias("pa"), "g"
    )
    b = g.select(
        F.col("doc_id").alias("db"), F.col("pos").alias("pb"), "g"
    )
    return (
        a.join(b, "g")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db", (F.col("pa") - F.col("pb")).alias("align_offset"))
        .agg(
            F.count("*").alias("n_aligned"),
            # base-invariant span width (Spark pos is 0-based, DuckDB
            # subscripts are 1-based; max-min cancels the base)
            (
                F.max("pa") - F.min("pa") + F.lit(SPAN_GRAM_K)
            ).alias("span_tokens"),
        )
        .filter(F.col("n_aligned") >= SPAN_RUN_MIN)
        .select(
            "da",
            "db",
            F.col("align_offset").cast("long").alias("align_offset"),
            "n_aligned",
            F.col("span_tokens").cast("long").alias("span_tokens"),
        )
    )


Q_DEDUP_ALIGNED_SPANS_SQL = f"""
WITH t AS (SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents),
gl AS (SELECT doc_id, {SHINGLES_DUCK} AS gs FROM t),
g0 AS (SELECT doc_id, unnest(gs) AS s, generate_subscripts(gs, 1) AS pos FROM gl),
g1 AS (SELECT doc_id, {hash60_duck('s')} AS g, pos FROM g0),
g AS (
  SELECT doc_id, g, pos FROM g1
  WHERE g NOT IN (
    SELECT g FROM g1 GROUP BY g
    HAVING COUNT(*) > (SELECT COUNT(*) FROM documents) * {MAX_SHINGLE_DOC_FRAC})),
p AS (
  SELECT a.doc_id AS da, b.doc_id AS db, a.pos - b.pos AS align_offset,
         COUNT(*) AS n_aligned,
         MAX(a.pos) - MIN(a.pos) + {SPAN_GRAM_K} AS span_tokens
  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3)
SELECT da, db, CAST(align_offset AS BIGINT) AS align_offset, n_aligned,
       CAST(span_tokens AS BIGINT) AS span_tokens
FROM p WHERE n_aligned >= {SPAN_RUN_MIN}
"""


# --- incremental dedup (delta batch vs corpus index) -------------------

# Hash-partition selector for the "newly arrived" batch: doc_id ≡ 7
# (mod 10) plays the delta; everything else is the standing corpus.
INCR_DELTA_MOD = 10
INCR_DELTA_RESIDUE = 7


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection: probe a NEW batch of documents
    (the delta) against the standing corpus's LSH band index, without
    re-deduping the corpus against itself — the shape a 100 TB corpus
    actually runs daily, where re-running the full self-join per
    ingest batch is a non-starter.

    Same signature/band/verify machinery as ``q_dedup_minhash_lsh``;
    the difference is the join: delta bands ⋈ corpus bands (never
    corpus ⋈ corpus). In production the corpus side is a MATERIALIZED
    band index (bucket-written by band key, so the probe co-locates
    and only the delta shuffles); here both sides derive from one
    postings scan, which keeps the oracle exact while preserving the
    probe-join shape. Intra-delta duplicates are out of scope by
    design — the standard self-join on the (tiny) delta covers those.

    Output: (delta_doc, corpus_doc, jaccard) for every band-collision
    candidate, verified with true Jaccard on the shared postings.
    """
    post = shingle_postings(spark, sf_dir).cache()
    bands = minhash_bands(spark, sf_dir, postings=post)
    is_delta = f"doc_id % {INCR_DELTA_MOD} = {INCR_DELTA_RESIDUE}"
    d, c = bands.where(is_delta).alias("d"), bands.where(f"NOT ({is_delta})").alias("c")
    cand = (
        d.join(c, F.col("d.band") == F.col("c.band"))
        .select(F.col("d.doc_id").alias("dd"), F.col("c.doc_id").alias("dc"))
        .distinct()
    )
    # set sizes ride the posting rows (shingle_postings n): no per-doc
    # sizes aggregate, no post-agg size joins (r12 §2.4)
    pa = post.select(F.col("doc_id").alias("dd"), "s", F.col("n").alias("na"))
    pb = post.select(F.col("doc_id").alias("dc"), "s", F.col("n").alias("nb"))
    return (
        cand.join(pa, "dd")
        .join(pb, ["dc", "s"])
        .groupBy("dd", "dc")
        .agg(
            F.count("*").alias("i"),
            F.expr("any_value(na)").alias("na"),
            F.expr("any_value(nb)").alias("nb"),
        )
        .select(
            F.col("dd").alias("delta_doc"),
            F.col("dc").alias("corpus_doc"),
            F.expr("round(CAST(i AS DOUBLE) / (na + nb - i), 6)").alias("jaccard"),
        )
    )


Q_DEDUP_INCREMENTAL_SQL = f"""
WITH {_MINHASH_SIG_DUCK},
{_BANDS_DUCK},
cand AS (
  SELECT DISTINCT d.doc_id AS dd, c.doc_id AS dc
  FROM bands d JOIN bands c ON d.band = c.band
  WHERE d.doc_id % {INCR_DELTA_MOD} = {INCR_DELTA_RESIDUE}
    AND c.doc_id % {INCR_DELTA_MOD} <> {INCR_DELTA_RESIDUE}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shp GROUP BY doc_id),
inter AS (
  SELECT cand.dd, cand.dc, COUNT(*) AS i
  FROM cand
  JOIN shp a ON a.doc_id = cand.dd
  JOIN shp b ON b.doc_id = cand.dc AND b.s = a.s
  GROUP BY 1, 2)
SELECT inter.dd AS delta_doc, inter.dc AS corpus_doc,
       round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON inter.dd = sa.doc_id
JOIN sizes sb ON inter.dc = sb.doc_id
"""


# PageRank over the near-dup graph: fixed-point integer arithmetic so
# every iteration is bit-identical in both engines — pr values are
# BIGINT numerators over PR_SCALE, contributions use floor division,
# damping 0.875 is applied as integer thousandths.
PR_ITERS = 3
PR_DAMP_THOUSANDTHS = 875
PR_SCALE = 1_000_000_000_000


def _pagerank_over_edges(edges: DataFrame, id_alias: str) -> DataFrame:
    """Shared PR_ITERS integer-PageRank loop over an undirected pair
    frame ``(src, dst)`` with ``src < dst`` (symmetrized here). Both
    graded pagerank queries run THIS loop — single-code-path rule, so
    the exact-baseline twin always measures the production iteration.

    Each iteration is one src-keyed equi-join + one dst-keyed partial
    aggregate — the canonical distributed PageRank step, O(E) per
    round with no driver state beyond the node count. Same loop
    hygiene as the CC op: partition count derived from the measured
    edge count, degree attached to the edge frame ONCE (GraphX-style,
    so the static side never re-joins per round), and per-round
    localCheckpoint to keep loop plans shallow (measured 1.5x on the
    loop at sf0.1).
    Determinism: pure integer fixed-point (see constants above); no
    float accumulates anywhere, so summation order is irrelevant."""
    # cache BEFORE the self-union: the union references `edges` twice,
    # and uncached each branch independently re-runs the whole edge
    # generator (ReuseExchange cannot dedupe post-exchange
    # applyInPandas / multi-join work) — same hazard the kcore loop
    # documents for its edge frame.
    edges = edges.cache()
    sym0 = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).cache()
    n_parts = cc_partitions(sym0.count())  # materializes the edge cache
    sym = sym0.repartition(n_parts, "src")
    # deg is consumed three times (symdeg build, pr init, final join);
    # uncheckpointed, each consumer re-shuffled and re-aggregated the
    # whole symmetrized edge frame off the cache. One |V|-row
    # localCheckpoint makes deg a static side computed exactly once
    # (r11, guide §5 cache-reuse / §2.4 shared exchange).
    deg = (
        sym.groupBy("src")
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("deg"))
        .localCheckpoint()
    )
    symdeg = sym.join(deg, "src").select("src", "dst", "deg").localCheckpoint()
    # deg has exactly one row per node (groupBy src over the
    # symmetrized frame), so the node count is a count of the
    # checkpointed |V|-row frame — the old distinct() re-shuffled all
    # E rows of symdeg for the same scalar (r11, guide §2.4).
    n_nodes = deg.count()  # O(1) model scalar
    # max(…, 1): a dup-free corpus yields an empty graph — every loop
    # frame is empty and the query returns 0 rows (matching the
    # oracle's empty set) instead of ZeroDivisionError on the driver.
    base = PR_SCALE // max(n_nodes, 1)
    tele = (1000 - PR_DAMP_THOUSANDTHS) * base // 1000
    pr = deg.select("src", F.lit(base).cast("long").alias("pr")).localCheckpoint()
    for _ in range(PR_ITERS):
        contrib = symdeg.join(pr, "src").select(
            F.col("dst").alias("src"), F.expr("pr div deg").alias("c")
        )
        pr = (
            contrib.groupBy("src")
            .agg(
                F.expr(
                    f"CAST({tele} + ({PR_DAMP_THOUSANDTHS} * SUM(c)) div 1000 AS BIGINT)"
                ).alias("pr")
            )
            .localCheckpoint()
        )
    return (
        pr.join(deg, "src")
        .select(
            F.col("src").alias(id_alias),
            "deg",
            F.expr(f"round(CAST(pr AS DOUBLE) / {PR_SCALE}, 9)").alias("pagerank"),
        )
        .orderBy(id_alias)
    )


def q_dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative scoring for near-dup clusters:
    PR_ITERS PageRank iterations over the (symmetrized) near-dup
    document graph. Within a duplicate cluster the highest-rank node
    is the most-connected — the natural "keep this copy" candidate
    (centrality-based canonicalization), a finer signal than the
    min-label rule ``q_dedup_clusters`` uses.

    Scale shape (the production path): edges are the LSH-VERIFIED
    near-dup pairs — ``lsh_candidate_pairs`` band buckets, true
    Jaccard verified on candidates only, thresholded — so edge
    generation is a band equi-join (38-46x for 100x data in the
    round-8 K=100 sweep, vs 232x for the exact block-matmul
    generator). Generator is shared verbatim with
    ``dedup_minhash_lsh`` / ``dedup_lsh_audit`` (single-code-path
    rule); the quadratic exact-pair variant survives as the labeled
    baseline twin ``q_dedup_pagerank_exact``."""
    verified = q_dedup_minhash_lsh(spark, sf_dir)
    edges = verified.filter(F.col("jaccard") >= JACCARD_THRESHOLD).select(
        F.col("da").alias("src"), F.col("db").alias("dst")
    )
    return _pagerank_over_edges(edges, "doc_id")


def q_dedup_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-edge PageRank baseline twin: the identical integer loop
    (``_pagerank_over_edges``) run over the EXACT block-matmul
    embedding pair generator (``q_dedup_embedding`` — bounded memory
    via ``embed_blocks``, but quadratic compute: 232x for 100x data,
    SCALING.md). Labeled baseline, like ``dedup_embedding`` itself:
    it is the ground truth the LSH-edged production query
    (``q_dedup_pagerank``) is compared against, not the 100 TB path."""
    edges = q_dedup_embedding(spark, sf_dir).select(
        F.col("ia").alias("src"), F.col("ib").alias("dst")
    )
    return _pagerank_over_edges(edges, "vec_id")


def _pagerank_sql(edges_prefix: str, id_col: str) -> str:
    """Full pagerank oracle from an ``edges_prefix`` WITH-body that
    must end by defining ``e0(src, dst)`` — the loop CTEs are shared
    verbatim between the LSH-edged and exact-edged oracles, mirroring
    the shared Spark loop."""
    damp = PR_DAMP_THOUSANDTHS
    step = """
p{k} AS (
  SELECT s.dst AS src,
         CAST((SELECT tele FROM consts)
              + ({damp} * CAST(SUM(p{j}.pr // deg.deg) AS BIGINT)) // 1000
              AS BIGINT) AS pr
  FROM sym s JOIN p{j} ON s.src = p{j}.src JOIN deg ON s.src = deg.src
  GROUP BY s.dst)"""
    steps = ",".join(
        step.format(k=k + 1, j=k, damp=damp) for k in range(PR_ITERS)
    )
    # MATERIALIZED is load-bearing, same rule as _kcore_sql: DuckDB
    # inlines plain CTEs, and sym/deg are referenced by EVERY loop
    # step (12 references) — inlined, the whole LSH-edge pipeline
    # re-evaluates per step (observed at the 10x replica: >30 min and
    # 56 GB of spill vs 42 s materialized, identical rows — r11)
    return f"""
WITH {edges_prefix},
sym AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY src),
consts AS MATERIALIZED (
  SELECT {PR_SCALE} // COUNT(*) AS base,
         (1000 - {damp}) * ({PR_SCALE} // COUNT(*)) // 1000 AS tele
  FROM deg),
p0 AS (SELECT src, CAST((SELECT base FROM consts) AS BIGINT) AS pr FROM deg),
{steps}
SELECT p{PR_ITERS}.src AS {id_col}, deg.deg AS deg,
       round(CAST(p{PR_ITERS}.pr AS DOUBLE) / {PR_SCALE}, 9) AS pagerank
FROM p{PR_ITERS} JOIN deg ON p{PR_ITERS}.src = deg.src
ORDER BY {id_col}
"""


# LSH-verified edge source: the SAME _MINHASH_SIG_DUCK/_LSH_CAND_DUCK
# fragments Q_DEDUP_MINHASH_SQL / Q_DEDUP_LSH_AUDIT_SQL splice in (the
# audited production generator), verified against true Jaccard on
# candidates and thresholded — the oracle mirror of q_dedup_pagerank's
# `q_dedup_minhash_lsh(...).filter(jaccard >= JACCARD_THRESHOLD)`.
_PR_LSH_EDGES_DUCK = f"""{_MINHASH_SIG_DUCK.strip()},
{_LSH_CAND_DUCK.strip()},
{_JACCARD_PAIRS_DUCK.strip()},
e0 AS MATERIALIZED (
  SELECT cand.da AS src, cand.db AS dst
  FROM cand JOIN jac ON cand.da = jac.da AND cand.db = jac.db
  WHERE jac.jaccard >= {JACCARD_THRESHOLD})"""

_PR_EXACT_EDGES_DUCK = f"""q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {EMBED_QUANT}) AS BIGINT)) AS qv
  FROM {EMB_CLEAN_DUCK} embeddings),
n AS (
  SELECT vec_id, qv,
         sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) AS nrm
  FROM q),
e0 AS MATERIALIZED (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM n a JOIN n b ON a.vec_id < b.vec_id
  WHERE {_QCOS_DUCK} >= {EMBED_COS_THRESHOLD})"""

Q_DEDUP_PAGERANK_SQL = _pagerank_sql(_PR_LSH_EDGES_DUCK, "doc_id")
Q_DEDUP_PAGERANK_EXACT_SQL = _pagerank_sql(_PR_EXACT_EDGES_DUCK, "vec_id")


# --- triangle counting / clustering coefficient -----------------------


def q_dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle count + local clustering coefficient over
    the Jaccard≥t near-dup pair graph — the community-density signal
    that separates a tight duplicate cluster (cc → 1, safe to collapse
    to one representative) from a hub document that merely touches
    many unrelated near-dups (cc → 0, collapse would over-merge).

    Scale shape: the "forward" algorithm (Schank & Wagner 2005) — each
    edge is oriented from its lower-(degree, id) endpoint to the
    higher, wedges are generated only from each vertex's OUT-edges,
    and the closing edge is probed with an equi-join. Orienting by
    degree bounds out-degree by O(sqrt(E)) regardless of hub skew, so
    the wedge fan-out a hub vertex generates is capped — the classic
    fix for the quadratic blowup a naive wedge join hits on skewed
    graphs. Every join is an equi-join (no cartesian); each triangle
    is generated exactly once, then credited to its 3 vertices with
    one explode + count.
    """
    edges = jaccard_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("da").alias("v"))
        .union(edges.select(F.col("db").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    ed = (
        edges.join(
            deg.select(F.col("v").alias("da"), F.col("deg").alias("dega")), "da"
        )
        .join(deg.select(F.col("v").alias("db"), F.col("deg").alias("degb")), "db")
        .select(
            "da",
            "db",
            (
                (F.col("dega") < F.col("degb"))
                | ((F.col("dega") == F.col("degb")) & (F.col("da") < F.col("db")))
            ).alias("fwd"),
            "dega",
            "degb",
        )
    )
    # orient low-(deg,id) -> high; carry the dst ordering key so the
    # wedge join can impose a strict order on the two out-neighbors
    oriented = ed.select(
        F.when(F.col("fwd"), F.col("da")).otherwise(F.col("db")).alias("src"),
        F.when(F.col("fwd"), F.col("db")).otherwise(F.col("da")).alias("dst"),
        F.when(F.col("fwd"), F.col("degb")).otherwise(F.col("dega")).alias("ddeg"),
    ).cache()
    o1, o2, o3 = oriented.alias("o1"), oriented.alias("o2"), oriented.alias("o3")
    tri = (
        o1.join(
            o2,
            (F.col("o1.src") == F.col("o2.src"))
            & (
                (F.col("o1.ddeg") < F.col("o2.ddeg"))
                | (
                    (F.col("o1.ddeg") == F.col("o2.ddeg"))
                    & (F.col("o1.dst") < F.col("o2.dst"))
                )
            ),
        )
        .select(
            F.col("o1.src").alias("u"),
            F.col("o1.dst").alias("v"),
            F.col("o2.dst").alias("w"),
        )
        .join(
            o3,
            (F.col("v") == F.col("o3.src")) & (F.col("w") == F.col("o3.dst")),
        )
        .select("u", "v", "w")
    )
    tc = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("nt"))
    )
    return (
        deg.join(tc, "v", "left")
        .select(
            F.col("v").alias("doc_id"),
            F.col("deg").alias("degree"),
            F.coalesce(F.col("nt"), F.lit(0)).cast("long").alias("n_triangles"),
            F.when(F.col("deg") < 2, F.lit(0.0))
            .otherwise(
                F.expr(
                    "round(2 * coalesce(nt, 0) / (deg * (deg - 1)), 6)"
                )
            )
            .alias("local_cc"),
        )
    )


Q_DEDUP_TRIANGLES_SQL = f"""
WITH {_JACCARD_PAIRS_DUCK},
e AS (SELECT da, db FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}),
deg AS (
  SELECT v, COUNT(*) AS deg
  FROM (SELECT da AS v FROM e UNION ALL SELECT db AS v FROM e)
  GROUP BY v),
tri AS (
  SELECT e1.da AS u, e1.db AS v, e2.db AS w
  FROM e e1
  JOIN e e2 ON e2.da = e1.da AND e2.db > e1.db
  JOIN e e3 ON e3.da = e1.db AND e3.db = e2.db),
tc AS (
  SELECT x AS v, COUNT(*) AS nt
  FROM (SELECT unnest([u, v, w]) AS x FROM tri)
  GROUP BY x)
SELECT deg.v AS doc_id,
       deg.deg AS degree,
       CAST(COALESCE(tc.nt, 0) AS BIGINT) AS n_triangles,
       CASE WHEN deg.deg < 2 THEN 0.0
            ELSE round(2 * COALESCE(tc.nt, 0) / (deg.deg * (deg.deg - 1)), 6)
       END AS local_cc
FROM deg LEFT JOIN tc ON deg.v = tc.v
"""


# --- k-core decomposition (iterated degree peeling) -------------------

KCORE_K = 2
# Fixed peel-round count: BOTH engines run exactly KCORE_ROUNDS peels,
# so the op is a pure function of the data at any scale; pytest
# asserts the fixpoint is reached strictly earlier at test SFs, so the
# fixed-round result IS the true k-core there. (A while-until-stable
# loop cannot be mirrored in the one-shot DuckDB oracle.)
KCORE_ROUNDS = 8


def q_dedup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition of the Jaccard≥t near-dup graph by
    iterated degree peeling: repeatedly drop vertices with degree <
    KCORE_K until stable (KCORE_ROUNDS fixed rounds — see constant).
    The 2-core strips the "tendrils" (documents attached to a cluster
    by a single near-dup edge, usually borderline false positives) and
    keeps only the densely mutually-duplicated cores — the
    conservative collapse set, complementing ``q_dedup_triangles``'s
    per-vertex density score with a global structure cut.

    Scale shape: each round is one degree aggregate + two semi-joins
    on the (already tiny relative to the corpus) edge list — all
    equi-joins, no windows; the loop frame is ``localCheckpoint``ed
    every round so the plan does not nest (CLAUDE.md loop hygiene).
    Peeling converges in O(peeling depth) rounds independent of graph
    size, and each round's cost shrinks monotonically.
    """
    # jaccard_edges is cache()d: the symmetrization references it twice
    # — uncached, each union branch re-runs the inverted-index
    # self-join + pair aggregate.
    edges = jaccard_edges(spark, sf_dir)
    # Size the checkpointed loop frame from the measured edge count
    # (CLAUDE.md iterative-loop rule, same as the CC/PageRank loops):
    # the edges.count() also materializes the shared edge cache. The
    # per-round aggregate/join shuffles are AQE-coalesced; this keeps
    # the checkpoint storage and the count() probes right-sized.
    n_parts = cc_partitions(2 * edges.count())
    cur = (
        edges.select(F.col("da").alias("src"), F.col("db").alias("dst"))
        .union(edges.select(F.col("db").alias("src"), F.col("da").alias("dst")))
        .repartition(n_parts, "src")
        .localCheckpoint()
    )
    # Early exit when a peel removes nothing: rounds past the fixpoint
    # are identity maps, so breaking early is result-identical to the
    # oracle's fixed KCORE_ROUNDS at EVERY scale factor — the count()
    # probe reads the just-checkpointed partitions (no recompute), the
    # same convergence pattern as the CC loop in q_dedup_clusters.
    prev = cur.count()
    for _ in range(KCORE_ROUNDS):
        keep = (
            cur.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= KCORE_K)
            .select("src")
        )
        # no per-round repartition (r12): when AQE broadcasts the keep
        # side (toy SF) the semi-joins are narrow and the checkpoint
        # keeps the initial n_parts layout for free; when they shuffle
        # (at scale) the checkpoint inherits the AQE-coalesced
        # post-join partitioning — either way the extra full edge
        # shuffle per round bought nothing (measured 3.29 -> 2.81 s,
        # identical result).
        cur = (
            cur.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint()
        )
        n = cur.count()
        if n == prev:
            break
        prev = n
    return cur.groupBy(F.col("src").alias("doc_id")).agg(
        F.count("*").alias("core_degree")
    )


def _kcore_sql() -> str:
    # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and the
    # e{{j}} chain references each predecessor 3x — inlined, that is
    # 3^ROUNDS copies of the whole shingle pipeline (observed as an
    # fd-exhausting parquet-scan explosion).
    step = """
k{j} AS MATERIALIZED (SELECT src FROM e{j} GROUP BY src HAVING COUNT(*) >= {k}),
e{n} AS MATERIALIZED (
  SELECT e{j}.src, e{j}.dst
  FROM e{j}
  JOIN k{j} a ON e{j}.src = a.src
  JOIN k{j} b ON e{j}.dst = b.src)"""
    steps = ",".join(
        step.format(j=r, n=r + 1, k=KCORE_K) for r in range(KCORE_ROUNDS)
    )
    return f"""
WITH {_JACCARD_PAIRS_DUCK},
e AS (SELECT da, db FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}),
e0 AS MATERIALIZED (SELECT da AS src, db AS dst FROM e
       UNION ALL SELECT db AS src, da AS dst FROM e),
{steps}
SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM e{KCORE_ROUNDS}
GROUP BY src
"""


Q_DEDUP_KCORE_SQL = _kcore_sql()


# --- chunk-level exact dedup with document reassembly -----------------

# Non-overlapping token chunks ("paragraphs" of the synthetic corpus,
# which has no newlines); the trailing partial chunk is hashed too —
# real pipelines dedup tails as well.
PARA_TOKENS = 32


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup with reassembly accounting: split every
    document into non-overlapping PARA_TOKENS-token chunks, keep each
    distinct chunk only at its first occurrence (min (doc_id, start)),
    and report per document how much survives — the RefinedWeb/Dolma
    "remove duplicated paragraphs, keep the rest of the page" stage,
    one granularity below document-level ``q_dedup_exact`` and the
    exact complement of span DETECTION (``q_dedup_aligned_spans``):
    this op decides what to KEEP.

    Scale shape: chunks = map-only tokenize→explode→slice→hash60 (the
    chunk text itself is never shuffled — only its 60-bit hash);
    winner-per-hash is ONE hash-agg (min struct, partial map-side);
    the winner table joins back on the same hash key (AQE reuses the
    partitioning) and the per-doc rollup is a second keyed aggregate.
    No windows over the corpus, no driver state.
    """
    ch = (
        _docs(spark, sf_dir)
        .select("doc_id", F.expr(TOKENS_SPARK).alias("toks"))
        .select("doc_id", "toks", F.size("toks").alias("n"))
        .select(
            "doc_id",
            "toks",
            "n",
            F.explode(F.expr(f"sequence(1, n, {PARA_TOKENS})")).alias("s"),
        )
        .select(
            "doc_id",
            "s",
            F.expr(f"least({PARA_TOKENS}, n - s + 1)").alias("ct"),
            F.expr(
                hash60_spark(f"concat_ws(' ', slice(toks, s, {PARA_TOKENS}))")
            ).alias("h"),
        )
        .cache()
    )
    # winner key packs (doc_id, start) into one BIGINT (start < 2^20 —
    # documents are far shorter than 1M tokens) so the min-aggregate
    # and the equality probe are single-column integer ops on both
    # engines (struct mins order-compare identically but field access
    # syntax diverges across engines).
    kk = F.expr("doc_id * 1048576 + s")
    keep = ch.groupBy("h").agg(F.min(kk).alias("kmin"))
    return (
        ch.join(keep, "h")
        .select(
            "doc_id",
            "ct",
            (kk == F.col("kmin")).alias("kept"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.col("kept").cast("long")).alias("n_kept_chunks"),
            F.sum(F.when(F.col("kept"), F.col("ct")).otherwise(0)).alias(
                "kept_tokens"
            ),
            F.sum("ct").alias("total_tokens"),
        )
    )


Q_DEDUP_PARAGRAPHS_SQL = f"""
WITH t AS (SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents),
st AS (
  SELECT doc_id, toks, len(toks) AS n,
         unnest(range(1, len(toks) + 1, {PARA_TOKENS})) AS s
  FROM t),
ch AS (
  SELECT doc_id, s,
         least({PARA_TOKENS}, n - s + 1) AS ct,
         {hash60_duck(
             "array_to_string(list_slice(toks, s, s + " + str(PARA_TOKENS - 1) + "), ' ')"
         )} AS h
  FROM st),
keep AS (
  SELECT h, min(doc_id * 1048576 + s) AS kmin FROM ch GROUP BY h)
SELECT ch.doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN ch.doc_id * 1048576 + ch.s = keep.kmin
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_chunks,
       CAST(SUM(CASE WHEN ch.doc_id * 1048576 + ch.s = keep.kmin
                     THEN ch.ct ELSE 0 END) AS BIGINT) AS kept_tokens,
       CAST(SUM(ch.ct) AS BIGINT) AS total_tokens
FROM ch JOIN keep ON ch.h = keep.h
GROUP BY ch.doc_id
"""


# --- asymmetric containment (doc-in-doc) ------------------------------

# Containment threshold C(A→B) = |A∩B| / |A| >= 3/4, as integers
# (4i >= 3·na), and a minimum set size so trivially tiny docs aren't
# "contained" everywhere.
CONTAIN_T_NUM, CONTAIN_T_DEN = 3, 4
CONTAIN_MIN_SHINGLES = 8


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional near-dup: doc A is CONTAINED in doc B when ≥ 3/4 of
    A's shingles appear in B — the asymmetric complement of Jaccard
    (Broder 1997 defines both resemblance and containment). Jaccard
    misses exactly this case: a paragraph quoted inside a much longer
    document scores near-zero Jaccard (union is huge) but containment
    ≈ 1. Training-data pipelines dedup on containment to drop
    quoted/boilerplate-wrapped copies that symmetric similarity keeps.

    Shape: same capped inverted-index equi-join as the Jaccard family
    (one shuffle on the shingle key, one on the pair key); each
    UNORDERED co-occurrence pair then emits up to two DIRECTED rows
    map-side (the intersection count is symmetric — no second join).
    Thresholds are integer inequalities (4i ≥ 3·n), never float
    compares."""
    # Same capped inverted-index pipeline as the whole Jaccard family —
    # single-sourced so a cap/join-shape fix there applies here too
    # (the unused jaccard column is pruned by Catalyst). Each unordered
    # pair conditionally emits its 0-2 directed rows MAP-SIDE in one
    # pass (explode of a CASE-built array) — the r11 form cached the
    # full pre-threshold pair frame and scanned it twice (fwd UNION
    # rev); dropping that cache + double scan measured 3.37 -> 2.23 s
    # cold at sf0.1 (OPTIMIZATION_r12.md, identical results asserted).
    pairs = _jaccard_pairs(shingle_postings(spark, sf_dir))
    fwd_ok = (
        f"{CONTAIN_T_DEN} * i >= {CONTAIN_T_NUM} * na"
        f" AND na >= {CONTAIN_MIN_SHINGLES}"
    )
    rev_ok = (
        f"{CONTAIN_T_DEN} * i >= {CONTAIN_T_NUM} * nb"
        f" AND nb >= {CONTAIN_MIN_SHINGLES}"
    )
    emit = F.expr(
        "explode(concat("
        f"CASE WHEN {fwd_ok} THEN array(named_struct("
        "'contained_doc', da, 'container_doc', db, 'n_common', i,"
        " 'containment', round(CAST(i AS DOUBLE) / na, 6))) ELSE array() END,"
        f" CASE WHEN {rev_ok} THEN array(named_struct("
        "'contained_doc', db, 'container_doc', da, 'n_common', i,"
        " 'containment', round(CAST(i AS DOUBLE) / nb, 6))) ELSE array() END))"
    )
    return (
        pairs.where(f"({fwd_ok}) OR ({rev_ok})")
        .select(emit.alias("e"))
        .select("e.*")
    )


Q_DEDUP_CONTAINMENT_SQL = f"""
WITH {_JACCARD_PAIRS_DUCK}
SELECT da AS contained_doc, db AS container_doc, i AS n_common,
       round(CAST(i AS DOUBLE) / na, 6) AS containment
FROM jac
WHERE {CONTAIN_T_DEN} * i >= {CONTAIN_T_NUM} * na
  AND na >= {CONTAIN_MIN_SHINGLES}
UNION ALL
SELECT db AS contained_doc, da AS container_doc, i AS n_common,
       round(CAST(i AS DOUBLE) / nb, 6) AS containment
FROM jac
WHERE {CONTAIN_T_DEN} * i >= {CONTAIN_T_NUM} * nb
  AND nb >= {CONTAIN_MIN_SHINGLES}
"""


# --- prefix-filtered set-similarity join (PPJoin-style) ----------------

# Jaccard threshold t = T_NUM/T_DEN = 1/2, kept as integers so every
# graded filter is an exact integer inequality (3i >= sa+sb for t=1/2),
# never a float compare. Stricter than the family's exploratory
# JACCARD_THRESHOLD (0.2): this op is the "collapse with confidence"
# member — and the one whose algorithm depends on t being substantial
# (prefix length shrinks as t grows).
PREFIX_T_NUM, PREFIX_T_DEN = 1, 2
PREFIX_JACCARD_T = PREFIX_T_NUM / PREFIX_T_DEN


def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join (shingle-set Jaccard ≥ 1/2) via
    PREFIX FILTERING (Chaudhuri 2006; Xiao 2008 "PPJoin"): order each
    doc's shingles rarest-first (global (df, s) order) and index only
    the first sz − ⌈t·sz⌉ + 1 of them — the pigeonhole guarantee is
    that two sets with Jaccard ≥ t MUST collide inside both prefixes,
    so joining prefixes instead of full posting lists is LOSSLESS
    (the DuckDB oracle is the unfiltered full inverted-index join, so
    the hash match IS the losslessness proof). Two further lossless
    prunes from the PPJoin paper run inside the same equi-join:
    the LENGTH filter (Jaccard ≥ t forces t·max(sa,sb) ≤ min(sa,sb))
    and the POSITIONAL filter (a match at ranks (ra, rb) bounds the
    overlap by 1 + min(sa−ra, sb−rb), which must reach the minoverlap
    ⌈t/(1+t)·(sa+sb)⌉ — all integer arithmetic: (sa+sb+2) div 3 for
    t=1/2). The algorithmic alternative to MinHash-LSH
    (``q_dedup_minhash_lsh``) when exactness is required at scale.

    Measured at sf0.1: 1.13 M co-occurring pairs in the full inverted
    index → 125 k prefix candidates (9×) → 256 survivors. Regime note
    (measured): prefix filtering needs a heavy-tailed df distribution —
    on this corpus's word-BIGRAM universe (931 grams, every gram hot)
    the same filters left 3.5 M candidates; on the 27 k-shingle
    universe they work as published. Pair enumeration over dense tiny
    vocabularies wants the bitmap/matmul path (``q_dedup_embedding``)
    instead.

    Shape: postings cached (one tokenize+explode); document frequency
    is a |vocab|-row aggregate equi-joined back onto the postings with
    NO broadcast hint — |vocab| grows with the corpus (measured x100
    at the sf~10 replica sweep; billions of shingles at 100 TB), so
    the join strategy is AQE's call from true runtime sizes: broadcast
    at test SF, co-partitioned shuffle join at scale (round-8
    broadcast policy, session.get_spark);
    ranks and set sizes are one doc-keyed window pass; candidates =
    prefix ⋈ prefix equi-join on the shingle with the two integer
    prunes as join residuals; verification SEMI-FILTERS the postings
    to candidate doc_ids first (a broadcast semi-join — the candidate
    set, not the corpus, bounds it), builds sorted shingle arrays for
    those docs only, and attaches them by broadcast for a map-only
    exact ``array_intersect`` — so the broadcast is O(candidates),
    never O(corpus), and the prefix filter's selectivity is what makes
    the final stage cheap (9× candidate cut measured above).
    Every join is an equi-join (no-cartesian plan-guarded in pytest).
    """
    sh = shingle_postings(spark, sf_dir).cache()
    dfreq = sh.groupBy("s").agg(F.count("*").alias("df"))
    wdoc = Window.partitionBy("doc_id")
    ranked = (
        # no broadcast hint: dfreq is |vocab|-sized (unbounded) — AQE
        # broadcasts it at toy SF and shuffle-joins it at scale
        sh.join(dfreq, "s")
        .withColumn("rn", F.row_number().over(wdoc.orderBy("df", "s")))
        # set size rides the posting rows (shingle_postings n) — the
        # former count-over-doc window is gone (r12 §2.4)
        .withColumn("sz", F.col("n"))
    )
    # prefix length for Jaccard t: sz - ceil(t*sz) + 1; ceil(sz/2) is
    # the integer (sz+1) div 2 — no float ceil in either engine
    prefix = (
        ranked.where(F.expr("rn <= sz - ((sz + 1) div 2) + 1"))
        .select("doc_id", "s", "rn", "sz")
        # materialized ONCE: this is PPJoin's "build the prefix index"
        # step. Without it the self-join below evaluates the dfreq
        # join + rank/size windows twice (measured: no ReusedExchange
        # fires across the aliased sides), doubling the most expensive
        # stage at every scale.
        .persist()
    )
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    cand = (
        pa.join(
            pb,
            (F.col("pa.s") == F.col("pb.s"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            # length filter: i <= min(sa,sb) must reach minoverlap
            & (
                3 * F.least(F.col("pa.sz"), F.col("pb.sz"))
                >= F.col("pa.sz") + F.col("pb.sz")
            )
            # positional filter: overlap upper bound from match ranks
            & (
                3
                * (
                    1
                    + F.least(
                        F.col("pa.sz") - F.col("pa.rn"),
                        F.col("pb.sz") - F.col("pb.rn"),
                    )
                )
                >= F.col("pa.sz") + F.col("pb.sz")
            ),
        )
        .select(F.col("pa.doc_id").alias("da"), F.col("pb.doc_id").alias("db"))
        .distinct()
        # reused 3x below (two doc-id sides + the verify join input);
        # the pair list is tiny (256 survivors from 125 k candidates
        # at sf0.1) so persisting beats re-running the prefix join
        .persist()
    )
    cand_docs = (
        cand.select(F.col("da").alias("doc_id"))
        .union(cand.select(F.col("db").alias("doc_id")))
        .distinct()
    )
    # Candidate-only verification arrays: semi-filter the postings to
    # candidate docs BEFORE collecting arrays, so the broadcast below
    # is bounded by the candidate set (ADVICE r6: broadcasting the
    # whole corpus's arrays contradicted the exactness-at-scale story).
    arrs = (
        sh.join(F.broadcast(cand_docs), "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("s")).alias("gs"),
            F.count("*").alias("n"),
        )
    )
    return (
        cand.join(
            F.broadcast(
                arrs.select(
                    F.col("doc_id").alias("da"),
                    F.col("gs").alias("ga"),
                    F.col("n").alias("na"),
                )
            ),
            "da",
        )
        .join(
            F.broadcast(
                arrs.select(
                    F.col("doc_id").alias("db"),
                    F.col("gs").alias("gb"),
                    F.col("n").alias("nb"),
                )
            ),
            "db",
        )
        .withColumn("i", F.expr("CAST(size(array_intersect(ga, gb)) AS BIGINT)"))
        # integer threshold: i/(na+nb-i) >= 1/2  <=>  3i >= na+nb
        .where(F.expr("3 * i >= na + nb"))
        .select(
            "da",
            "db",
            F.col("i").alias("n_common"),
            F.expr("round(CAST(i AS DOUBLE) / (na + nb - i), 6)").alias(
                "jaccard"
            ),
        )
    )


# Oracle = the UNfiltered full inverted-index join (same sh/sizes/inter
# CTEs as the Jaccard family) at the integer threshold — deliberately
# ignorant of prefixes, so a hash match proves the pruning lossless.
Q_DEDUP_PREFIX_FILTER_SQL = f"""
WITH {_JACCARD_PAIRS_DUCK}
SELECT da, db, CAST(i AS BIGINT) AS n_common, jaccard
FROM jac
WHERE 3 * i >= na + nb
"""


def q_dedup_lsh_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall audit of the MinHash-LSH candidate generator
    against exact Jaccard truth — the measurement that decides the
    (K, bands) operating point before a 100 TB dedup run trusts the
    approximation. Truth = all pairs with exact Jaccard ≥ t from the
    inverted-index join (the labeled exactness baseline this audit
    exists to eventually replace); candidates = the distinct band-
    bucket pairs. One full-outer join of the two pair sets → a single
    audit row with integer-ppm precision (candidates that are real
    dups) and recall (real dups the bands surfaced).

    Scale shape: both pair sets come off the SAME cached postings
    frame (one tokenize+cap scan); the audit join and count run on
    O(pairs) rows, never the corpus. On a real corpus the audit runs
    on a sampled partition and the measured ppm extrapolates — the
    shape is identical.

    Determinism: pure integer counts and integer-division ppm."""
    post = shingle_postings(spark, sf_dir).cache()
    cand = lsh_candidate_pairs(spark, sf_dir, postings=post).withColumn(
        "in_c", F.lit(1)
    )
    truth = (
        _jaccard_pairs(post)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("da", "db")
        .withColumn("in_t", F.lit(1))
    )
    return (
        cand.join(truth, ["da", "db"], "full_outer")
        .agg(
            # Outer coalesce: when BOTH pair sets are empty the join has
            # zero rows and SUM yields NULL, not 0 — without it the
            # n_candidates=0 sentinel guard below never fires and the
            # row comes out all-NULL (NaN through the driver's pandas
            # fetch).
            F.expr("CAST(coalesce(SUM(coalesce(in_c, 0)), 0) AS BIGINT)").alias(
                "n_candidates"
            ),
            F.expr(
                "CAST(coalesce(SUM(coalesce(in_t, 0)), 0) AS BIGINT)"
            ).alias("n_truth"),
            F.expr(
                "CAST(coalesce(SUM(coalesce(in_c, 0) * coalesce(in_t, 0)), 0)"
                " AS BIGINT)"
            ).alias("n_hits"),
        )
        .select(
            "n_candidates",
            "n_truth",
            "n_hits",
            # -1 sentinel when a set is empty (dup-free sampled slice):
            # Spark's ANSI DIV throws on 0 where DuckDB NULLs — the
            # crash-vs-NULL engine divergence class.
            F.expr(
                "CASE WHEN n_candidates = 0 THEN CAST(-1 AS BIGINT)"
                " ELSE CAST((1000000 * n_hits) DIV n_candidates AS BIGINT)"
                " END"
            ).alias("precision_ppm"),
            F.expr(
                "CASE WHEN n_truth = 0 THEN CAST(-1 AS BIGINT)"
                " ELSE CAST((1000000 * n_hits) DIV n_truth AS BIGINT) END"
            ).alias("recall_ppm"),
        )
    )


Q_DEDUP_LSH_AUDIT_SQL = f"""
WITH {_MINHASH_SIG_DUCK},
{_LSH_CAND_DUCK.strip()},
candf AS (SELECT da, db, 1 AS in_c FROM cand),
{_JACCARD_PAIRS_DUCK.strip().rstrip(',').lstrip()},
truth AS (
  SELECT da, db, 1 AS in_t FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}),
u AS (
  SELECT CAST(COALESCE(SUM(COALESCE(in_c, 0)), 0) AS BIGINT) AS n_candidates,
         CAST(COALESCE(SUM(COALESCE(in_t, 0)), 0) AS BIGINT) AS n_truth,
         CAST(COALESCE(SUM(COALESCE(in_c, 0) * COALESCE(in_t, 0)), 0)
              AS BIGINT) AS n_hits
  FROM candf FULL OUTER JOIN truth USING (da, db))
SELECT n_candidates, n_truth, n_hits,
       CASE WHEN n_candidates = 0 THEN CAST(-1 AS BIGINT)
            ELSE CAST((1000000 * n_hits) // n_candidates AS BIGINT)
            END AS precision_ppm,
       CASE WHEN n_truth = 0 THEN CAST(-1 AS BIGINT)
            ELSE CAST((1000000 * n_hits) // n_truth AS BIGINT)
            END AS recall_ppm
FROM u
"""


# Packed-key width for the quality-keeper selection (covers doc_id and
# n_chars up to 10^12 - 1).
_KEEP_PAD = 12
_KEEP_MAX = 10**_KEEP_PAD - 1


def q_dedup_keeper_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper selection: real dedup pipelines keep the
    BEST copy of each near-dup cluster, not the arbitrary min-id one —
    here quality = n_chars (keep the longest copy; ties break to the
    smaller doc_id), the common rule when near-dups are truncations of
    one another. Output compares the quality keeper against the naive
    min-id keeper per cluster, with the char counts that quantify what
    the naive rule would have thrown away.

    Scale shape: cluster labels come from the shared CC loop
    (``q_dedup_clusters``); the label frame holds only docs that
    appear in a dup pair, so the doc-metadata join and the per-cluster
    MIN/MAX aggregation run on O(dup docs), not the corpus.

    Determinism: keeper argmax is a plain MAX over zero-padded packed
    strings ``lpad(n_chars)||lpad(MAX-doc_id)`` (descending quality,
    then ascending id via complement) — no min_by/max_by tie or NULL
    semantics to trust cross-engine; all arithmetic BIGINT."""
    labels = q_dedup_clusters(spark, sf_dir)
    meta = _docs(spark, sf_dir).select("doc_id", "n_chars")
    keep_key = (
        f"concat(lpad(CAST(n_chars AS STRING), {_KEEP_PAD}, '0'),"
        f" lpad(CAST({_KEEP_MAX} - doc_id AS STRING), {_KEEP_PAD}, '0'))"
    )
    naive_key = (
        f"concat(lpad(CAST(doc_id AS STRING), {_KEEP_PAD}, '0'),"
        f" lpad(CAST(n_chars AS STRING), {_KEEP_PAD}, '0'))"
    )
    return (
        labels.join(meta, "doc_id")
        .groupBy("cluster_rep")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_members"),
            F.expr(f"MAX({keep_key})").alias("kk"),
            F.expr(f"MIN({naive_key})").alias("nk"),
        )
        .select(
            "cluster_rep",
            "n_members",
            F.expr(
                f"CAST({_KEEP_MAX} - CAST(substring(kk, {_KEEP_PAD + 1})"
                " AS BIGINT) AS BIGINT)"
            ).alias("keeper_doc"),
            F.expr(
                f"CAST(substring(kk, 1, {_KEEP_PAD}) AS BIGINT)"
            ).alias("keeper_chars"),
            F.expr(
                f"CAST(substring(nk, 1, {_KEEP_PAD}) AS BIGINT)"
            ).alias("naive_keeper"),
            F.expr(
                f"CAST(substring(nk, {_KEEP_PAD + 1}) AS BIGINT)"
            ).alias("naive_chars"),
        )
        .orderBy("cluster_rep")
    )


Q_DEDUP_KEEPER_QUALITY_SQL = f"""
WITH RECURSIVE {_JACCARD_PAIRS_DUCK.strip()},
{_CLUSTERS_DUCK.strip()},
keyed AS (
  SELECT l.cluster_rep,
         lpad(CAST(d.n_chars AS VARCHAR), {_KEEP_PAD}, '0') ||
         lpad(CAST({_KEEP_MAX} - d.doc_id AS VARCHAR), {_KEEP_PAD}, '0')
           AS kk,
         lpad(CAST(d.doc_id AS VARCHAR), {_KEEP_PAD}, '0') ||
         lpad(CAST(d.n_chars AS VARCHAR), {_KEEP_PAD}, '0') AS nk
  FROM labels l JOIN documents d ON l.doc_id = d.doc_id)
SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST({_KEEP_MAX} - CAST(substring(MAX(kk), {_KEEP_PAD + 1})
            AS BIGINT) AS BIGINT) AS keeper_doc,
       CAST(substring(MAX(kk), 1, {_KEEP_PAD}) AS BIGINT) AS keeper_chars,
       CAST(substring(MIN(nk), 1, {_KEEP_PAD}) AS BIGINT) AS naive_keeper,
       CAST(substring(MIN(nk), {_KEEP_PAD + 1}) AS BIGINT) AS naive_chars
FROM keyed
GROUP BY cluster_rep
ORDER BY cluster_rep
"""


def q_dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every unordered pair of
    sources, how many near-dup pairs span them — the standard
    web-corpus provenance audit (which feeds mirror which; Dolma and
    RefinedWeb both report it) that decides whether to dedup WITHIN
    sources independently (cheap, per-source shards) or must dedup
    ACROSS the full corpus. A heavy off-diagonal cell means per-source
    dedup would silently keep every cross-source copy.

    Shape: the near-dup pair set comes off the shared capped
    inverted-index pipeline (O(pairs) rows, cached — referenced by the
    id-set and the matrix join). The doc→source dimension is
    candidate-bounded BEFORE it is broadcast: a semi-join against the
    distinct pair doc-ids cuts it from corpus-sized to O(dup docs),
    the round-7 pair-verification rule. The matrix itself is two
    broadcast hash joins plus one ~|sources|² aggregate — the corpus
    is never reshuffled.

    Determinism: source pair canonicalized with least/greatest
    (identical lexicographic VARCHAR compare both engines); counts
    are BIGINT."""
    pairs = jaccard_edges(spark, sf_dir)
    ids = (
        pairs.select(F.col("da").alias("doc_id"))
        .union(pairs.select(F.col("db").alias("doc_id")))
        .distinct()
    )
    meta = (
        _docs(spark, sf_dir)
        .join(F.broadcast(ids), "doc_id", "left_semi")
        .select("doc_id", "source")
        .cache()
    )
    return (
        pairs.join(
            F.broadcast(
                meta.select(
                    F.col("doc_id").alias("da"), F.col("source").alias("sa")
                )
            ),
            "da",
        )
        .join(
            F.broadcast(
                meta.select(
                    F.col("doc_id").alias("db"), F.col("source").alias("sb")
                )
            ),
            "db",
        )
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_pairs"))
    )


Q_DEDUP_SOURCE_MATRIX_SQL = f"""
WITH {_JACCARD_PAIRS_DUCK},
pairs AS (SELECT da, db FROM jac WHERE jaccard >= {JACCARD_THRESHOLD})
SELECT LEAST(la.source, lb.source) AS source_a,
       GREATEST(la.source, lb.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs p
JOIN documents la ON p.da = la.doc_id
JOIN documents lb ON p.db = lb.doc_id
GROUP BY 1, 2
"""


QUERIES = {
    "dedup_lsh_audit": q_dedup_lsh_audit,
    "dedup_source_matrix": q_dedup_source_matrix,
    "dedup_keeper_quality": q_dedup_keeper_quality,
    "dedup_kcore": q_dedup_kcore,
    "dedup_prefix_filter": q_dedup_prefix_filter,
    "dedup_containment": q_dedup_containment,
    "dedup_exact": q_dedup_exact,
    "dedup_clusters": q_dedup_clusters,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding": q_dedup_embedding,
    "dedup_aligned_spans": q_dedup_aligned_spans,
    "dedup_incremental": q_dedup_incremental,
    "dedup_pagerank": q_dedup_pagerank,
    "dedup_pagerank_exact": q_dedup_pagerank_exact,
    "dedup_triangles": q_dedup_triangles,
    "dedup_paragraphs": q_dedup_paragraphs,
}

ORACLES = {
    "dedup_lsh_audit": Q_DEDUP_LSH_AUDIT_SQL,
    "dedup_source_matrix": Q_DEDUP_SOURCE_MATRIX_SQL,
    "dedup_keeper_quality": Q_DEDUP_KEEPER_QUALITY_SQL,
    "dedup_kcore": Q_DEDUP_KCORE_SQL,
    "dedup_prefix_filter": Q_DEDUP_PREFIX_FILTER_SQL,
    "dedup_containment": Q_DEDUP_CONTAINMENT_SQL,
    "dedup_exact": Q_DEDUP_EXACT_SQL,
    "dedup_clusters": Q_DEDUP_CLUSTERS_SQL,
    "dedup_ngram_jaccard": Q_DEDUP_NGRAM_JACCARD_SQL,
    "dedup_minhash_lsh": Q_DEDUP_MINHASH_SQL,
    "dedup_simhash": Q_DEDUP_SIMHASH_SQL,
    "dedup_embedding": Q_DEDUP_EMBEDDING_SQL,
    "dedup_aligned_spans": Q_DEDUP_ALIGNED_SPANS_SQL,
    "dedup_incremental": Q_DEDUP_INCREMENTAL_SQL,
    "dedup_pagerank": Q_DEDUP_PAGERANK_SQL,
    "dedup_pagerank_exact": Q_DEDUP_PAGERANK_EXACT_SQL,
    "dedup_triangles": Q_DEDUP_TRIANGLES_SQL,
    "dedup_paragraphs": Q_DEDUP_PARAGRAPHS_SQL,
}
