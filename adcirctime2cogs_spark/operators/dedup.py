"""Deduplication operators over the documents table (north-star scope;
BASELINE.json): exact, n-gram Jaccard, MinHash signatures + LSH
candidate pairs, SimHash, and the pyspark.ml MinHashLSH scale path.

Shapes chosen for 100 TB:
- exact dedup: one hash-groupBy on a 32-byte digest, never on raw text;
- pairwise Jaccard is quadratic -> only ever run on LSH candidates or
  within blocks; the oracle-checked pair queries here keep the
  all-pairs shingle join small via the shingle equi-join (pairs only
  materialize when they share a shingle);
- minhash signatures are 8 ints/doc (constant state per doc), bands of
  2 give candidate buckets; a band bucket join replaces the quadratic
  scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adcirctime2cogs_spark import memo
from adcirctime2cogs_spark.functions.numeric import r4

from adcirctime2cogs_spark.functions.text import (
    MH_COEFS,
    MH_PRIME,
    SHINGLES_SQL,
    SIMHASH_BITS,
    normalized_text,
    shingles,
    tokens_col,
)
from adcirctime2cogs_spark.tables import load_table

QUERIES = {}
ORACLES = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


@_register(
    "dedup_exact",
    """
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           min(doc_id) AS keeper_id,
           count(*)    AS group_size
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized-text digest; keeper =
    min doc_id per group. At scale the digest (32B) shuffles, the text
    (KBs) never does."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(normalized_text(F.col("text"))).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("group_size"))
    )


# Stop-shingle doc-frequency cap: a shingle appearing in more than
# DF_CAP documents is boilerplate ("terms of service apply") and would
# explode k^2 candidate pairs at scale, so it never contributes to
# intersection counts. 32 is > the max fixture df (25 at sf0.1), so
# fixture results are unchanged while the skew guard is active and
# oracle-mirrored.
DF_CAP = 32

# DuckDB twin of the capped intersection table (the WHERE d.dfc <= cap
# mirrors _shingle_artifacts' posting-list size filter).
_INTER_SQL = f""",
shdf AS (SELECT sh, count(*) AS dfc FROM shh GROUP BY sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM shh a JOIN shh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  JOIN shdf d ON d.sh = a.sh
  WHERE d.dfc <= {DF_CAP}
  GROUP BY 1, 2
)"""

# Jaccard denominators count only non-stop shingles — the same universe
# as the intersection counts (which drop df > DF_CAP shingles). Mixing
# a capped numerator with uncapped denominators would bias
# boilerplate-heavy pairs below threshold: the Jaccard here is the
# Jaccard OF THE STOP-FILTERED SHINGLE SETS on both sides of the ratio.
_SIZES_SQL = f""",
sizes AS (
  SELECT s.doc_id, count(*) AS n
  FROM shh s JOIN shdf d USING (sh)
  WHERE d.dfc <= {DF_CAP}
  GROUP BY s.doc_id
)"""

_JACCARD_PAIRS_SQL = (
    "WITH "
    + SHINGLES_SQL
    + _INTER_SQL
    + _SIZES_SQL
    + """
SELECT doc_a, doc_b,
       round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
"""
)


def _shingle_artifacts(spark: SparkSession, sf_dir: str):
    """The fuzzy-dedup family's shared intermediates: the shingle
    explode `sh`, the stop-shingle set `stop` (doc frequency > DF_CAP),
    and the capped shared-shingle pair-count table `inter`
    (doc_a < doc_b, c = |non-stop shingles in common|).

    `inter` materializes from per-shingle posting lists (inverted
    index): one groupBy keys each shingle to its doc list, then only
    the i<j combinations explode via two codegen'd explodes — half the
    join output of a shingle self-join and one full-table shuffle less.
    The posting-list size filter doubles as the stop-shingle cap: a
    shingle shared by k docs explodes k^2/2 pairs, so ultra-common
    boilerplate shingles (df > DF_CAP) are dropped from pair
    generation entirely — the standard skew guard, mirrored in every
    fuzzy-dedup oracle via _INTER_SQL. `sh` and `inter` are persisted:
    exact-Jaccard pairs, LSH verify, and the clustering query all read
    them, and at 100 TB they are the written-once tables between
    pipeline stages. Stored in the session memo under sf_dir, so
    repeated calls reuse the SAME cached DataFrames.
    """
    return memo.get(spark, "dedup.shingle_artifacts", sf_dir,
                    lambda: _build_shingle_artifacts(spark, sf_dir))


def _build_shingle_artifacts(spark: SparkSession, sf_dir: str):
    # spread the under-split scan BEFORE the explode (optimization
    # r12): the fixture documents table is one row group, so the
    # shingle split + per-shingle md5 — the fuzzy-dedup family's
    # single heaviest narrow stage — otherwise runs as ONE task, and
    # the persisted `sh` pins that single partition for every
    # downstream consumer. Round-robin on docs is result-neutral
    # here: every artifact aggregate is integer-exact (min/count) and
    # posting-list pair output is order-canonicalized (doc_a < doc_b).
    from adcirctime2cogs_spark.tables import load_table_spread

    sh = shingles(load_table_spread(spark, sf_dir, "documents")).persist()
    posts = (
        sh.groupBy("sh")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(F.size("ds").between(2, DF_CAP))
    )
    # the stop set is tiny by construction (only boilerplate shingles
    # cross the cap), so downstream consumers broadcast-anti-join it
    stop = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("dfc"))
        .filter(F.col("dfc") > DF_CAP)
        .select("sh")
        .persist()
    )
    inter = (
        posts.select(F.explode("ds").alias("doc_a"), "ds")
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
        .persist()
    )
    return sh, stop, inter


def _doc_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc stop-filtered shingle-set sizes — the Jaccard
    denominators (_SIZES_SQL). A shared derived artifact (optimization
    r12): the ngram/prefix verify paths recompute it per execution,
    and with the shingle build now spread across cores the recompute
    became task-dispatch-bound; one row per doc persists in the
    session memo beside the shingle artifacts, same as LSH's sig_sizes
    (which already carries its own n)."""
    sh, stop, _ = _shingle_artifacts(spark, sf_dir)
    return memo.get(
        spark, "dedup.doc_sizes", sf_dir,
        lambda: sh.join(F.broadcast(stop), "sh", "left_anti")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .persist(),
    )


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard >= 0.8 pairs:
    (doc_a, doc_b, jaccard double, unrounded)."""
    _sh, _stop, inter = _shingle_artifacts(spark, sf_dir)
    # denominators over the stop-filtered sets, matching inter (see
    # _SIZES_SQL); cached per data version (_doc_sizes)
    sizes = _doc_sizes(spark, sf_dir)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("c") * 1.0 / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


@_register("dedup_ngram_jaccard", _JACCARD_PAIRS_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact word-3-gram Jaccard >= 0.8 (see
    _jaccard_pairs for the posting-list plan shape)."""
    p = _jaccard_pairs(spark, sf_dir)
    return p.select("doc_a", "doc_b", r4("jaccard").alias("jaccard"))


def _stop_filtered_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh) with df > DF_CAP boilerplate shingles removed —
    the universe both the posting-list and prefix-filter paths score
    Jaccard over."""
    sh, stop, _ = _shingle_artifacts(spark, sf_dir)
    return sh.select("doc_id", "sh").join(F.broadcast(stop), "sh", "left_anti")


def _prefix_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prefix-filter inverted index: per doc, only its
    n - ceil(0.8*n) + 1 rarest-first shingles (ascending doc
    frequency, shingle tie-break) — roughly a 5x smaller index than
    the full posting lists at t = 0.8."""
    from pyspark.sql import Window as W

    shf = _stop_filtered_shingles(spark, sf_dir)
    dfc = shf.groupBy("sh").agg(F.count("*").alias("dfc"))
    w = W.partitionBy("doc_id")
    ranked = shf.join(dfc, "sh").select(
        "doc_id",
        "sh",
        F.row_number().over(w.orderBy("dfc", "sh")).alias("rn"),
        F.count("*").over(w).alias("n"),
    )
    # integer-exact prefix length: n - ceil(0.8*n) + 1, with
    # ceil(4n/5) = floor((4n+4)/5) so no float wobble at n % 5 == 0
    return ranked.filter(
        F.col("rn") <= F.col("n") - F.floor((F.col("n") * 4 + 4) / 5) + 1
    ).select("doc_id", "sh")


def _prefix_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_a < doc_b) candidate pairs from the prefix-filter
    inverted index. Lossless by the prefix theorem — tests pin that
    these candidates are a SUPERSET of the exact path's >= 0.8
    pairs.

    Mass-duplication bound (VERDICT r07 item 2): the index is built
    over _stop_filtered_shingles, so every indexed shingle has
    df <= DF_CAP — the self-join's per-shingle fan-out is capped at
    DF_CAP^2 pairs STRUCTURALLY, no separate bucket cap needed. k
    identical docs with k > DF_CAP push all their shared shingles
    over the stop threshold and vanish from the index entirely (their
    >= 0.8 pairs are vacuously absent from the verify stage too, the
    same stop-shingle semantics as the posting path — identical
    output is the registered contract); k <= DF_CAP clones produce at
    most DF_CAP^2 candidates per shingle. Proven adversarially by
    tools/scale_check.py run_degenerate_bucket_leg, which drives BOTH
    fuzzy miners over a 100k-identical-clone corpus."""
    prefix = _prefix_index(spark, sf_dir)
    return (
        prefix.select(F.col("doc_id").alias("doc_a"), "sh")
        .join(prefix.select(F.col("doc_id").alias("doc_b"), "sh"), "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


@_register("dedup_prefix_jaccard", _JACCARD_PAIRS_SQL)
def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME result set as dedup_ngram_jaccard — exact
    stop-filtered word-3-gram Jaccard >= 0.8 pairs — produced via
    AllPairs/PPJoin prefix filtering (Bayardo et al., WWW'07; Xiao et
    al., WWW'08) instead of full posting lists: order each doc's
    shingles rarest-first (ascending doc frequency, shingle
    tie-break — a per-doc window, no global rank/sort) and index only
    the first n - ceil(t*n) + 1 of them. The prefix theorem makes the
    reduction LOSSLESS at threshold t: any pair with Jaccard >= t
    shares at least one shingle lying inside BOTH prefixes, so
    candidates are a superset of the true pairs while the inverted
    index shrinks ~5x at t = 0.8. Verification touches only
    candidates, and each side's shingle array is the doc's OWN
    row-local 3-gram set (bounded by document length, never another
    document's data). Same DuckDB oracle as the exact posting path —
    byte-identical output is the contract, pinned additionally by
    tests/test_dedup.py's equality and candidate-superset checks."""
    cand = _prefix_candidates(spark, sf_dir)
    shf = _stop_filtered_shingles(spark, sf_dir)
    sets = shf.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("sh")).alias("shs"),
        F.count("*").alias("n"),
    )
    c = F.size(F.array_intersect("shs_a", "shs_b"))
    jac = c * 1.0 / (F.col("na") + F.col("nb") - c)
    return (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("shs").alias("shs_a"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("shs").alias("shs_b"),
                F.col("n").alias("nb"),
            ),
            "doc_b",
        )
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", r4(jac).alias("jaccard"))
    )


def _mh_sql_exprs() -> str:
    return ", ".join(
        f"min(({a} * h + {b}) % {MH_PRIME}) AS mh{j}"
        for j, (a, b) in enumerate(MH_COEFS)
    )


def _mh_aggs() -> list:
    """Spark twin of _mh_sql_exprs — THE MinHash permutation fold,
    defined once (review r11: the expression list was pasted at five
    sites; a coefficient-scheme change missing one would silently
    desync base-layout bands from increment bands)."""
    return [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MH_PRIME)
        .alias(f"mh{j}")
        for j, (a, b) in enumerate(MH_COEFS)
    ]


@_register(
    "dedup_minhash_signature",
    "WITH " + SHINGLES_SQL + f"""
SELECT doc_id, {_mh_sql_exprs()}
FROM shh GROUP BY doc_id
""",
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures: k=8 affine permutations min-folded per doc.

    One groupBy over the shingle explode; per-doc state is 8 ints
    regardless of document size — the property that makes fuzzy dedup
    feasible at 100 TB.
    """
    from adcirctime2cogs_spark.tables import load_table_spread

    # integer min-folds are partitioning-independent: spread the
    # single-row-group scan so the shingle+md5 stage parallelizes
    sh = shingles(load_table_spread(spark, sf_dir, "documents"))
    aggs = _mh_aggs()
    return sh.groupBy("doc_id").agg(*aggs)


_LSH_PAIRS_SQL = (
    "WITH "
    + SHINGLES_SQL
    + f""",
sig AS (SELECT doc_id, {_mh_sql_exprs()} FROM shh GROUP BY doc_id),
bands AS (
  SELECT doc_id, band, CAST(h1 AS VARCHAR) || ':' || CAST(h2 AS VARCHAR) AS bkey
  FROM (
    SELECT doc_id, unnest([0, 1, 2, 3]) AS band,
           unnest([mh0, mh2, mh4, mh6]) AS h1,
           unnest([mh1, mh3, mh5, mh7]) AS h2
    FROM sig
  )
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.doc_id < b.doc_id
),
shdf AS (SELECT sh, count(*) AS dfc FROM shh GROUP BY sh),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS c
  FROM cand c
  JOIN shh a ON a.doc_id = c.doc_a
  JOIN shh b ON b.doc_id = c.doc_b AND b.sh = a.sh
  JOIN shdf d ON d.sh = a.sh
  WHERE d.dfc <= {DF_CAP}
  GROUP BY 1, 2
),
sizes AS (
  SELECT s.doc_id, count(*) AS n
  FROM shh s JOIN shdf d USING (sh)
  WHERE d.dfc <= {DF_CAP}
  GROUP BY s.doc_id
)
SELECT i.doc_a, i.doc_b,
       round(i.c * 1.0 / (sa.n + sb.n - i.c), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.c * 1.0 / (sa.n + sb.n - i.c) >= 0.5
"""
)


# bound on the per-bucket ALL-PAIRS candidate enumeration. Buckets
# larger than this (a mass-duplicated boilerplate cluster putting k
# near-identical docs in one LSH bucket) would emit k^2 pairs from a
# single task; above the cap the enumeration switches to STAR pairs
# against TWO representatives (the bucket's min and max doc_id) —
# O(2k), streamed, no in-memory array. Connected components recovers
# the clique from either star, and using two independent reps means a
# single band-hash-collision rep (a doc that landed in the bucket
# WITHOUT being a real near-dup, whose verify edges all fail the
# Jaccard threshold) cannot silently sever the cluster for that band;
# both reps colliding falsely is quadratically unlikely, and the
# other 3 bands still cover the cluster. The price is the quadratic
# intra-cluster pair LISTING (star output feeds cluster-level dedup,
# not per-pair listings). lsh_bucket_stats() surfaces how many
# buckets took the star path; zero at the test SFs (asserted in
# tests) so the exact-pairs oracle stays byte-identical.
LSH_BUCKET_CAP = 64


def _lsh_bands(sig_sizes, carry=()):
    """Explode 8 minhashes into 4 bands of 2 rows -> (doc_id, band,
    bkey). `carry` names extra per-doc columns to keep on every band
    row (optimization r13: the pair query rides the Jaccard
    denominator `n` through the candidate pipeline instead of joining
    sizes back — see _lsh_candidates)."""
    return sig_sizes.selectExpr(
        "doc_id",
        *carry,
        "stack(4, 0, mh0, mh1, 1, mh2, mh3, 2, mh4, mh5, 3, mh6, mh7)"
        " AS (band, h1, h2)",
    ).select(
        "doc_id",
        *carry,
        "band",
        # injective long pack: h1, h2 < MH_PRIME = 2^31-1, so
        # h1*2^31 + h2 < 2^62 — an 8-byte sort/shuffle/hash key
        # instead of a per-row string concat (measured faster on the
        # bucket window+groupBy, which sorts and hashes this key)
        (F.col("h1") * F.lit(2147483648) + F.col("h2")).alias("bkey"),
    )


def _lsh_candidates(bands, carry_n=False):
    """Bucket-size-bounded candidate pairs from the band table.

    Posting-list candidates instead of a bands self-join: one shuffle
    of bands (groupBy bucket) rather than two join sides, and the
    distinct's (doc_a, doc_b) hash partitioning is exactly the verify
    join's key, so the candidate table flows into the inter join
    without re-shuffling — measured ~1.7x on the full query at sf0.1.

    The cap costs NO extra shuffle: ONE window over (band, bkey) tags
    every band row with its bucket size and min/max doc_id (the window
    buffers per-bucket rows through a spillable sorter — linear disk,
    never quadratic memory), then small buckets re-aggregate WITHOUT
    an exchange (the groupBy key equals the window partitioning, so
    Catalyst plans a partial+final hash-agg on already-partitioned
    data) and over-cap buckets project star pairs row-locally. A
    groupBy-sizes + join-back alternative was measured ~0.4 s SLOWER
    on the sf0.1 headline query: buckets are mostly singletons, so the
    sizes aggregation's map-side combine collapses nothing and its
    shuffle is band-table-sized — a second full shuffle instead of the
    window's one sort.

    With carry_n=True (optimization r13), every band row additionally
    carries the doc's Jaccard denominator `n` and the emitted pairs
    are (doc_a, na, doc_b, nb): the verify stage then needs NO
    join-back against the sizes table — the previous plan attached
    na/nb through TWO sort-merge joins (each an exchange + two sorts)
    after the intersection count; riding the single long through the
    candidate pipeline costs 8 bytes/row in exchanges that already
    exist. The star branch picks each representative's n with
    min_by/max_by over the SAME window (no extra pass)."""
    from pyspark.sql import Window

    from adcirctime2cogs_spark.operators.starcap import observe_over_cap

    w = Window.partitionBy("band", "bkey")
    cols = [
        "doc_id",
        "band",
        "bkey",
        F.count("*").over(w).alias("bn"),
        F.min("doc_id").over(w).alias("rep_lo"),
        F.max("doc_id").over(w).alias("rep_hi"),
    ]
    if carry_n:
        cols += [
            "n",
            F.min_by("n", "doc_id").over(w).alias("n_lo"),
            F.max_by("n", "doc_id").over(w).alias("n_hi"),
        ]
    tagged = bands.select(*cols)
    tagged = observe_over_cap(
        tagged, "bn", F.col("doc_id") == F.col("rep_lo"),
        LSH_BUCKET_CAP, "lsh_bucket",
    )
    in_small = tagged.filter(F.col("bn").between(2, LSH_BUCKET_CAP))
    over = tagged.filter(F.col("bn") > LSH_BUCKET_CAP)
    if not carry_n:
        small = (
            in_small.groupBy("band", "bkey")
            .agg(F.collect_list("doc_id").alias("ds"))
            .select(F.explode("ds").alias("doc_a"), "ds")
            .select("doc_a", F.explode("ds").alias("doc_b"))
        )
        star = over.select(
            F.explode(F.array("rep_lo", "rep_hi")).alias("rep"), "doc_id"
        ).select(
            F.least("rep", "doc_id").alias("doc_a"),
            F.greatest("rep", "doc_id").alias("doc_b"),
        )
        return (
            small.unionByName(star)
            .filter(F.col("doc_a") < F.col("doc_b"))
            .distinct()
        )
    # carried-n forms: pair elements are (d, n) structs; least/greatest
    # order by the first field (doc_id, unique), so the pair ordering
    # is identical to the id-only form
    small = (
        in_small.groupBy("band", "bkey")
        .agg(
            F.collect_list(F.struct(F.col("doc_id").alias("d"), "n"))
            .alias("ds")
        )
        .select(F.explode("ds").alias("a"), "ds")
        .select("a", F.explode("ds").alias("b"))
    )
    star = over.select(
        F.explode(
            F.array(
                F.struct(F.col("rep_lo").alias("d"), F.col("n_lo").alias("n")),
                F.struct(F.col("rep_hi").alias("d"), F.col("n_hi").alias("n")),
            )
        ).alias("rep"),
        F.struct(F.col("doc_id").alias("d"), "n").alias("self"),
    ).select(
        F.least("rep", "self").alias("a"),
        F.greatest("rep", "self").alias("b"),
    )
    return (
        small.unionByName(star)
        .filter(F.col("a.d") < F.col("b.d"))
        .select(
            F.col("a.d").alias("doc_a"),
            F.col("a.n").alias("na"),
            F.col("b.d").alias("doc_b"),
            F.col("b.n").alias("nb"),
        )
        .distinct()
    )


def lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> dict:
    """Operational stats for the LSH bucket distribution: total
    buckets, over-cap (star-path) buckets, and the max bucket size.
    Surfaces the candidate pairs "dropped" to the two-representative
    star encoding: sum over over-cap buckets of
    (bn*(bn-1)/2 - (2*bn - 3))."""
    from adcirctime2cogs_spark.operators.starcap import star_group_stats

    sh, stop, _ = _shingle_artifacts(spark, sf_dir)
    aggs = _mh_aggs()
    sig = sh.groupBy("doc_id").agg(*aggs)
    sizes_b = _lsh_bands(sig).groupBy("band", "bkey").agg(
        F.count("*").alias("cn")
    )
    g = star_group_stats(sizes_b, LSH_BUCKET_CAP)
    return {
        "n_buckets": g["n_groups"],
        "n_over_cap": g["n_over_cap"],
        "max_bucket": g["max_group"],
        "pairs_dropped_to_star": g["pairs_dropped_to_star"],
        "bucket_cap": g["cap"],
    }


@_register("dedup_minhash_lsh_pairs", _LSH_PAIRS_SQL)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pipeline: band-bucket join -> candidate
    pairs -> exact-Jaccard verify >= 0.5.

    The band self-join touches only bucket collisions (sub-quadratic);
    exact Jaccard runs on candidates alone — shingle rows join against
    the candidate pair table, so intersection counting touches only
    shingles of candidate docs, never the all-pairs shared-shingle
    enumeration (which would cost the same as the exact-Jaccard join
    and forfeit the sub-quadratic property). Stop shingles
    (df > DF_CAP) are dropped from the count via a broadcast anti-join
    — the tiny stop set ships, the shingle table never re-shuffles for
    it. A candidate pair with no shared shingle has Jaccard 0 and
    drops out of the inner join exactly as it would out of the >= 0.5
    filter. 4 bands x 2 rows catches j >= 0.8 pairs with ~98%
    probability per band structure — the sf0.01 planted dups
    (j ~ 0.99) are all caught.

    ORACLE CONTRACT (ADVICE r07): the registered _LSH_PAIRS_SQL
    oracle enumerates ALL intra-bucket pairs, but over-cap buckets
    (> LSH_BUCKET_CAP members) intentionally emit only the
    two-representative star pairs, so oracle parity holds exactly
    when lsh_bucket_stats(spark, sf_dir)["n_over_cap"] == 0. That is
    true at every fixture SF (pinned in tests/test_dedup.py and
    preconditioned in tests/test_oracle_parity.py); a sweep on data
    with mass duplication must consult lsh_bucket_stats before
    treating a mismatch as a regression.
    """
    sh, stop, _inter = _shingle_artifacts(spark, sf_dir)
    aggs = _mh_aggs()
    # one groupBy produces signatures AND set sizes (the Jaccard
    # denominators) — at 100TB that's one pass over the shingle table
    # instead of two. Signatures min-fold over the FULL shingle set
    # (LSH is the recall filter; seeing stop shingles only adds
    # candidates), while n counts only non-stop shingles so the exact
    # verify denominators match the capped intersection (_SIZES_SQL).
    stop_marked = stop.withColumn("is_stop", F.lit(True))
    sig_sizes = memo.get(
        spark, "dedup.lsh_sig_sizes", sf_dir,
        lambda: sh.join(F.broadcast(stop_marked), "sh", "left")
        .groupBy("doc_id")
        .agg(*aggs, F.count(F.when(F.col("is_stop").isNull(), 1)).alias("n"))
        .persist(),
    )
    # The Jaccard denominators (na, nb) RIDE the candidate pipeline
    # (optimization r13): the previous plan attached them through two
    # post-count sort-merge joins against sig_sizes — two exchanges +
    # four sorts on the verify output — where carrying one extra long
    # per band row through the exchanges that already exist is ~free.
    bands = _lsh_bands(sig_sizes, carry=("n",))
    cand = _lsh_candidates(bands, carry_n=True)
    sh_kept = sh.join(F.broadcast(stop), "sh", "left_anti")
    sh_a = sh_kept.select(F.col("doc_id").alias("doc_a"), "sh")
    sh_b = sh_kept.select(F.col("doc_id").alias("doc_b"), "sh")
    verified = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("c"))
    )
    jac = F.col("c") * 1.0 / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        verified.filter(jac >= 0.5)
        .select("doc_a", "doc_b", r4(jac).alias("jaccard"))
    )


def _simhash_fp_sql() -> str:
    terms = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) > 0"
        f" THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"SELECT doc_id, {terms} AS simhash FROM shh GROUP BY doc_id"


@_register("dedup_simhash", "WITH " + SHINGLES_SQL + _simhash_fp_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (16-bit): per-bit majority vote over shingle
    hashes, folded back into one integer. Near-dups then reduce to
    small-Hamming-distance fingerprint pairs (constant per-doc state,
    like minhash)."""
    from adcirctime2cogs_spark.tables import load_table_spread

    # integer vote sums are partitioning-independent: spread the
    # single-row-group scan (see spread_scan)
    sh = shingles(load_table_spread(spark, sf_dir, "documents"))
    bit_votes = [
        F.sum(
            F.when((F.col("h").bitwiseAND(1 << b)) != 0, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    votes = sh.groupBy("doc_id").agg(*bit_votes)
    fp = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return votes.select("doc_id", fp.cast("bigint").alias("simhash"))


def _emb_cos_sql() -> tuple[str, str]:
    """(sign-bucket expr template, cosine expr template) — imported from
    the similarity module so dedup and ANN share one vector convention."""
    from adcirctime2cogs_spark.operators.similarity import _COS_SQL, _SIGN_SQL_TMPL

    return _SIGN_SQL_TMPL, _COS_SQL


_EMB_TAU = 0.4  # near-dup cosine threshold

_SIGN_SQL, _COS = _emb_cos_sql()

_EMB_DEDUP_SQL = f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_SIGN_SQL.format(e="embedding")} AS bucket
      FROM embeddings
    ),
    dup AS (
      SELECT DISTINCT y.vec_id AS dup_id
      FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
      WHERE round({_COS.format(a="x.embedding", b="y.embedding")}, 4) >= {_EMB_TAU}
    )
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM dup WHERE dup.dup_id = d.doc_id)
    """


@_register("dedup_embedding_cosine", _EMB_DEDUP_SQL)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup with keep-lowest-id semantics:
    documents whose embedding has cosine >= 0.4 with a lower-id
    embedding (within the same sign-LSH block) are dropped.

    The 100 TB shape: candidate pairs come from the
    SIGN_BUCKET_CAP-bounded sign-bucket relation (sub-quadratic like
    sim_topk_bucketed, with the mass-duplication star fallback), the
    verify is exact cosine on candidates only, and the survivors fall
    out of a left-anti join against the dropped-id set — the
    documents table itself never self-joins. The reference has no
    dedup at all (north-star scope, BASELINE.json).

    ORACLE CONTRACT (review r11, the dedup_minhash_lsh_pairs
    discipline): the registered oracle enumerates ALL within-bucket
    pairs, but over-cap buckets (> SIGN_BUCKET_CAP members) emit only
    the two-representative star pairs, so a member whose ONLY
    lower-id near-dup is a non-representative mid-bucket vector
    survives here but not in the oracle. Parity therefore holds
    exactly when sign_bucket_stats(spark, sf_dir)["n_over_cap"] == 0 —
    true at every fixture SF (preconditioned in
    tests/test_oracle_parity.py); on mass-duplicated real data
    consult the in-band starcap:sign_bucket observation before
    treating a mismatch as a regression."""
    from adcirctime2cogs_spark.operators.similarity import (
        _sign_bucket,
        _sign_bucket_candidates,
        cosine_pre,
    )

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", _sign_bucket(F.col("embedding"))
    )
    dup_ids = (
        _sign_bucket_candidates(emb)
        .filter(
            r4(cosine_pre(F.col("ea"), F.col("eb"),
                          F.col("na"), F.col("nb"))) >= _EMB_TAU
        )
        .select(F.col("vec_b").alias("dup_id"))
        .distinct()
    )
    docs = load_table(spark, sf_dir, "documents")
    # dup-id set sizes with the corpus's duplication rate (SemDeDup
    # reports 20-50%% on real crawls) — let AQE pick the strategy
    # instead of forcing a broadcast (review r11)
    return docs.join(
        dup_ids, docs.doc_id == dup_ids.dup_id, "left_anti"
    ).select("doc_id", "lang", "n_chars")


@_register("dedup_minhash_ml")  # rows-only: pyspark.ml hash family is engine-specific
def dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path variant on pyspark.ml MinHashLSH (seeded): shingle
    sets -> sparse vectors -> approxSimilarityJoin at Jaccard distance
    <= 0.3. Values are engine-specific (Spark's hash family), so the
    driver records the rows-only check; tests/test_dedup.py asserts it
    finds the same planted pairs as the exact-Jaccard query."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    sh = shingles(load_table(spark, sf_dir, "documents"))
    docs = sh.groupBy("doc_id").agg(F.collect_set("sh").alias("shset"))
    cv = CountVectorizer(
        inputCol="shset", outputCol="features", binary=True, minDF=1.0
    ).fit(docs)
    feats = cv.transform(docs)  # every doc has >= 1 shingle (len filter upstream)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=4, seed=42)
    model = mh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.3, distCol="dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            r4(1 - F.col("dist")).alias("jaccard_approx"),
        )
    )


_COMPONENTS_CTES = (
    "WITH RECURSIVE "
    + SHINGLES_SQL
    + _INTER_SQL
    + _SIZES_SQL
    + """,
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
walk(node, label) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node
)
"""
)

_COMPONENTS_SQL = (
    _COMPONENTS_CTES
    + """
SELECT node AS doc_id, min(label) AS component
FROM walk GROUP BY node
"""
)


@_register("dedup_components", _COMPONENTS_SQL)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph — the cluster
    assignment step that turns pairwise matches into dedup groups
    (component id = min doc_id in the cluster = the keeper).

    Iterative min-label propagation: each round every node takes the
    min label among itself and its neighbors; converges in O(diameter)
    rounds (dup clusters are shallow — a handful here, and the classic
    large-star/small-star contraction bounds it at O(log n) for
    adversarial graphs). Each round is one equi-join + one hash agg,
    both keyed on node — at 100 TB this is the standard distributed CC
    loop (GraphX/GraphFrames run the same plan). localCheckpoint cuts
    the growing lineage each round; the label sum is monotonically
    decreasing, so it doubles as the convergence test (one scalar
    action per round, no full-frame comparison).
    """
    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = memo.get(
        spark, "dedup.component_edges", sf_dir,
        lambda: pairs.union(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        ).persist(),
    )
    labels = (
        edges.select(F.col("doc_a").alias("node")).distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    prev_sum = None
    converged = False
    for _ in range(20):  # diameter bound; planted clusters are shallow
        prop = edges.join(labels, edges.doc_a == labels.node).select(
            F.col("doc_b").alias("node"), "label"
        )
        labels = (
            labels.union(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # a diameter->20 graph would silently emit wrong (unconverged)
        # labels; fail loudly instead — at that diameter the fix is the
        # O(log n) large-star/small-star contraction, not more rounds
        raise RuntimeError(
            "dedup_components: min-label propagation did not converge "
            "within 20 rounds"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


_SURVIVORS_SQL = (
    _COMPONENTS_CTES
    + """,
comp AS (
  SELECT node AS doc_id, min(label) AS component
  FROM walk GROUP BY node
),
alldocs AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component, d.n_chars
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT component,
       arg_max(doc_id, least(n_chars, 4194303) * 1099511627776 - doc_id) AS keeper,
       count(*) AS cluster_size,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM alldocs GROUP BY component
"""
)


@_register("dedup_survivors", _SURVIVORS_SQL)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection — the step after clustering that
    actually emits the deduplicated corpus: one row per cluster
    (singletons included), keeper = the longest document with ties
    broken toward the smaller doc_id.

    The keeper pick is a single max_by on the packed ordering key
    `least(n_chars, 2^22-1) * 2^40 - doc_id` (no per-cluster window
    sort, no second shuffle: the pick rides the same hash agg as the
    cluster stats). The clamp + 2^40 shift keep the key exact for
    doc_ids up to 10^12 and any document length — the old 2^32 shift
    bled the tie-break into the length block once ids passed 2^32
    (review r11); docs longer than 4M chars tie at the clamp and
    break toward the smaller id. The left join against the CC labels
    is UNHINTED: on a lightly-duplicated corpus the label table is
    tiny and AQE broadcasts it, but the pair graph of a 30-50%%-dup
    crawl is corpus-scale and must shuffle (review r11 — the forced
    broadcast here was the same 8 GB-ceiling bug fixed in
    dedup_corpus_emit)."""
    labels = dedup_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    full = docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("component"),
        "n_chars",
    )
    return full.groupBy("component").agg(
        F.expr("max_by(doc_id, least(n_chars, 4194303)"
               " * 1099511627776 - doc_id)").alias("keeper"),
        F.count("*").alias("cluster_size"),
        F.sum("n_chars").alias("total_chars"),
    )


_CORPUS_EMIT_SQL = (
    _COMPONENTS_CTES
    + """,
comp AS (
  SELECT node AS doc_id, min(label) AS component
  FROM walk GROUP BY node
),
alldocs AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component, d.n_chars
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
),
keepers AS (
  SELECT arg_max(doc_id, least(n_chars, 4194303) * 1099511627776 - doc_id) AS doc_id
  FROM alldocs GROUP BY component
)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d JOIN keepers k ON k.doc_id = d.doc_id
"""
)


@_register("dedup_corpus_emit", _CORPUS_EMIT_SQL)
def dedup_corpus_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's end product: the deduplicated corpus
    itself — every document that is its near-dup cluster's canonical
    keeper (singletons keep themselves), ready to feed the training
    shard sink.

    Composition of the whole fuzzy-dedup chain (shingles → capped
    posting lists → pair graph → connected components → survivor
    pick) finished by ONE id semi-join of the keeper set against the
    corpus scan. The keeper set is one row per CLUSTER — but
    singletons keep themselves, so it is approximately corpus-sized
    (review r11: the earlier forced broadcast would blow the 8 GB
    broadcast ceiling long before 100 TB; its "one row per cluster"
    framing hid the singleton mass). The semi-join shuffles 8-byte
    ids, never text; AQE still broadcasts when the corpus genuinely
    is small."""
    keepers = dedup_survivors(spark, sf_dir).select(
        F.col("keeper").alias("doc_id")
    )
    docs = load_table(spark, sf_dir, "documents")
    return docs.join(keepers, "doc_id", "semi").select(
        "doc_id", "lang", "n_chars"
    )


_CONTAINMENT_SQL = (
    "WITH "
    + SHINGLES_SQL
    + _INTER_SQL
    + _SIZES_SQL
    + """
SELECT doc_a, doc_b,
       round(c * 1.0 / least(sa.n, sb.n), 4) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE c * 1.0 / least(sa.n, sb.n) >= 0.7
"""
)


@_register("dedup_containment_pairs", _CONTAINMENT_SQL)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: |A∩B| / min(|A|,|B|) ≥ 0.7 —
    catches sub-/super-set duplication (a document embedded inside a
    longer one) that symmetric Jaccard misses entirely (a 10× longer
    superset caps Jaccard at 0.1 however complete the containment).

    Rides the exact same persisted shingle artifacts as the Jaccard
    pair mining — the posting-list intersection table and stop-filtered
    sizes are shared, so registering this query adds zero extra corpus
    scans to a pipeline that already mines near-dups."""
    _sh, _stop, inter = _shingle_artifacts(spark, sf_dir)
    sizes = _doc_sizes(spark, sf_dir)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    cont = F.col("c") * 1.0 / F.least("na", "nb")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(cont >= 0.7)
        .select("doc_a", "doc_b", r4(cont).alias("containment"))
    )


# ----------------------------------------------- substring dedup
SPAN_K = 12  # tokens per duplicated-substring window

# shared CTE chain: tokenized docs -> window inventory -> duplicated
# windows -> covered positions -> merged spans. One fragment so the
# span-listing and text-scrub oracles can never desynchronize.
_SPAN_CTES = f"""tok AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
w AS (
  SELECT doc_id, i - 1 AS p, array_to_string(t[i:i+{SPAN_K - 1}], ' ') AS w
  FROM (
    SELECT doc_id, t, unnest(range(1, len(t) - {SPAN_K} + 2)) AS i
    FROM tok WHERE len(t) >= {SPAN_K}
  )
),
dup AS (SELECT w FROM w GROUP BY w HAVING count(DISTINCT doc_id) >= 2),
cov AS (SELECT doc_id, p FROM w SEMI JOIN dup USING (w)),
isl AS (
  SELECT doc_id, p,
         CASE WHEN p > coalesce(
             max(p) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) + {SPAN_K},
             -1) THEN 1 ELSE 0 END AS flag
  FROM cov
),
g AS (
  SELECT doc_id, p,
         sum(flag) OVER (PARTITION BY doc_id ORDER BY p) AS isl
  FROM isl
),
spans AS (
  SELECT doc_id, min(p) AS span_start, max(p) + {SPAN_K} AS span_end,
         CAST(count(*) AS BIGINT) AS n_windows
  FROM g GROUP BY doc_id, isl
)"""

_SUBSTRING_SPANS_SQL = (
    "WITH " + _SPAN_CTES
    + "\nSELECT doc_id, span_start, span_end, n_windows FROM spans"
)


@_register("dedup_substring_spans", _SUBSTRING_SPANS_SQL)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSTRING-level dedup (the Lee et al., ACL'22 'Deduplicating
    Training Data' shape): find, per document, the maximal token spans
    whose every SPAN_K-token window also appears in some OTHER
    document — the repeated boilerplate a doc-level dedup can't see
    because the surrounding text differs. Output
    (doc_id, span_start, span_end, n_windows): token ranges
    [start, end) a scrubbing pass would cut, with overlapping/touching
    windows interval-merged per doc (gaps-and-islands over a running
    max — one window pass, no self-join).

    Plan shape for 100 TB: the window inventory is a single narrow
    map pass (positions x K-token joins are row-local array math);
    duplicated windows fall out of ONE groupBy on the window content
    and flow semi-join-style back onto the inventory on the same key,
    so Catalyst reuses the exchange; the island merge is a per-doc
    window over only the COVERED positions (a tiny fraction of the
    corpus). At scale the shuffle key would be a 128-bit content hash
    instead of the window string — same plan, narrower exchange; the
    string key keeps the DuckDB oracle byte-exact here.

    Reference parity: no analogue (the reference has no text surface)
    — north-star dedup family, BASELINE.json."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("t")
    ).filter(F.size("t") >= SPAN_K)
    wins = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - SPAN_K),
                lambda i: F.struct(
                    i.cast("long").alias("p"),
                    F.concat_ws(
                        " ", *[F.col("t")[i + j] for j in range(SPAN_K)]
                    ).alias("w"),
                ),
            )
        ).alias("pw"),
    ).select("doc_id", F.col("pw.p").alias("p"), F.col("pw.w").alias("w"))
    dup = (
        wins.groupBy("w")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("w")
    )
    covered = wins.join(dup, "w", "semi").select("doc_id", "p")

    from pyspark.sql import Window as W

    prev = (
        W.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    run = W.partitionBy("doc_id").orderBy("p")
    flagged = covered.select(
        "doc_id",
        "p",
        F.when(
            F.col("p")
            > F.coalesce(F.max("p").over(prev) + SPAN_K, F.lit(-1)),
            1,
        ).otherwise(0).alias("flag"),
    )
    grouped = flagged.withColumn("isl", F.sum("flag").over(run))
    return grouped.groupBy("doc_id", "isl").agg(
        F.min("p").alias("span_start"),
        (F.max("p") + SPAN_K).alias("span_end"),
        F.count("*").alias("n_windows"),
    ).select("doc_id", "span_start", "span_end", "n_windows")


_SUBSTRING_SCRUB_SQL = (
    "WITH " + _SPAN_CTES
    + f"""
, ti AS (
  SELECT doc_id, t[i] AS tk, i - 1 AS pos
  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM tok)
),
span_docs AS (SELECT DISTINCT doc_id FROM spans),
counts AS (
  SELECT doc_id, len(t) AS n FROM tok SEMI JOIN span_docs USING (doc_id)
),
kept AS (
  SELECT ti.doc_id, tk, pos
  FROM ti SEMI JOIN span_docs USING (doc_id)
  ANTI JOIN spans s
    ON s.doc_id = ti.doc_id
   AND ti.pos >= s.span_start AND ti.pos < s.span_end
),
agg AS (
  SELECT doc_id, string_agg(tk, ' ' ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT c.doc_id, coalesce(a.clean_text, '') AS clean_text,
       CAST(c.n - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
FROM counts c LEFT JOIN agg a USING (doc_id)
"""
)


@_register("text_substring_scrub", _SUBSTRING_SCRUB_SQL)
def text_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scrub CONSUMER of dedup_substring_spans: for every doc with
    at least one duplicated span, emit the text with the covered
    token ranges cut (tokens re-joined on single spaces) and the
    removed-token count — the Lee et al. ACL'22 treatment applied,
    not just located.

    Plan shape: the spans sub-plan is the substring miner's; the cut
    itself is ROW-LOCAL — spans collect per doc (bounded by doc
    length) and a higher-order filter with the element index drops
    covered tokens inside the projection, so no per-token explode or
    re-shuffle of the corpus ever happens. Docs with all tokens
    covered legitimately emit an empty string (count mismatch
    impossible: n_removed is derived from the same filter)."""
    docs = load_table(spark, sf_dir, "documents")
    spans = dedup_substring_spans(spark, sf_dir)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("sp")
    )
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("t"))
    kept = (
        toks.join(per_doc, "doc_id")
        .select(
            "doc_id",
            F.size("t").alias("n"),
            F.filter(
                F.col("t"),
                lambda x, i: ~F.exists(
                    F.col("sp"),
                    lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
                ),
            ).alias("kt"),
        )
    )
    return kept.select(
        "doc_id",
        F.concat_ws(" ", "kt").alias("clean_text"),
        (F.col("n") - F.size("kt")).cast("bigint").alias("n_removed"),
    )


# --- Semantic dedup (SemDeDup shape: Abbas et al. 2023, arXiv:2303.09540) --
#
# Cluster the embedding space, then search for near-duplicate SEMANTICS
# only WITHIN a cluster: the cluster bounds the quadratic (cell size is
# ~CENT_MOD by construction, so candidate pairs cost n * cell_size, not
# n^2), and the keeper rule is the paper's: order each cell's members by
# similarity-to-centroid ascending and drop an item iff some EARLIER
# member is a near-duplicate of it — so each duplicate group's survivor
# is its member FARTHEST from the centroid (the most "edge-of-cluster",
# least redundant exemplar). The cell assignment is the IVF coarse
# quantizer already materialized once per data version by
# tables.layout_once (similarity._ivf_cells_table) — SemDeDup rides the
# same offline index the ANN serving path uses.

SEM_TAU = 0.4  # within-cell semantic-duplicate cosine threshold


def _semdedup_assign_sql() -> str:
    """Shared oracle CTEs: centroids -> full scoring -> top-1 cell
    assignment carrying cs (rounded cosine to the OWN cell centroid,
    the SemDeDup ordering key). Restates the assignment rule
    similarity._ivf_cells_table materializes; drift between the two
    is caught by the oracle gate itself, not by textual sharing —
    the Spark side reads the MATERIALIZED cells, so if the IVF rule
    ever changed without this CTE following, every semantic-dedup
    hash comparison (driver window + the two-scale in-repo sweep)
    would go red on the next run."""
    from adcirctime2cogs_spark.operators.similarity import CENT_MOD, _COS_SQL

    return f"""
    WITH cent AS (
      SELECT vec_id AS cent_id, embedding AS cent_emb
      FROM embeddings WHERE vec_id % {CENT_MOD} = 1
    ),
    scored AS (
      SELECT e.vec_id, e.embedding, c.cent_id,
             round({_COS_SQL.format(a="e.embedding", b="c.cent_emb")}, 4) AS cs
      FROM embeddings e CROSS JOIN cent c
    ),
    assign AS (
      SELECT vec_id, embedding, cent_id AS cell, cs FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cs DESC, cent_id) AS rn
        FROM scored
      ) WHERE rn = 1
    )"""


def _semdedup_pairs_sql() -> str:
    from adcirctime2cogs_spark.operators.similarity import _COS_SQL

    cos = _COS_SQL.format(a="a.embedding", b="b.embedding")
    return f"""{_semdedup_assign_sql()}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cell AS cell,
           round({cos}, 4) AS cos_sim
    FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE round({cos}, 4) >= {SEM_TAU}
    """


def _semdedup_keepers_sql() -> str:
    from adcirctime2cogs_spark.operators.similarity import _COS_SQL

    cos = _COS_SQL.format(a="a.embedding", b="b.embedding")
    return f"""{_semdedup_assign_sql()},
    dropped AS (
      SELECT DISTINCT b.vec_id AS dup_id
      FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id != b.vec_id
      WHERE round({cos}, 4) >= {SEM_TAU}
        AND (a.cs < b.cs OR (a.cs = b.cs AND a.vec_id < b.vec_id))
    )
    SELECT s.vec_id, s.cell, s.cs AS cent_sim
    FROM assign s
    WHERE NOT EXISTS (SELECT 1 FROM dropped WHERE dropped.dup_id = s.vec_id)
    """


def _semdedup_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, cell, cs): each vector joined to its
    MATERIALIZED IVF cell (layout_once artifact — built once per data
    version, never re-derived here) plus the rounded cosine to its own
    cell centroid, recovered by a broadcast equi-join on the (tiny)
    centroid table — one map-side pass, no re-scoring against all
    centroids."""
    from adcirctime2cogs_spark.operators.similarity import (
        CENT_MOD,
        _ivf_cells_table,
        cosine_pre,
        norm_of,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") % CENT_MOD == 1).select(
        F.col("vec_id").alias("cell"),
        F.col("embedding").alias("cent_emb"),
        norm_of(F.col("embedding")).alias("cent_n"),
    )
    return (
        _ivf_cells_table(spark, sf_dir)
        .join(emb, "vec_id")
        .withColumn("_n", norm_of(F.col("embedding")))
        .join(F.broadcast(cent), "cell")
        .select(
            "vec_id", "embedding", "cell",
            r4(
                cosine_pre(
                    F.col("embedding"), F.col("cent_emb"),
                    F.col("_n"), F.col("cent_n"),
                )
            ).alias("cs"),
        )
    )


# Per-cell bound on the within-cell ALL-PAIRS enumeration — the
# semantic twin of LSH_BUCKET_CAP (same adversarial shape: a
# mass-duplicated corpus putting k near-identical embeddings in one
# IVF cell would emit k^2 pairs from a single task). Cells at or
# under the cap enumerate exactly; above it, only pairs touching the
# cell's TWO EARLIEST members in the keeper order (lowest (cent_sim,
# vec_id)) are emitted — O(2k), and for the mass-duplication case
# that triggers it, the earliest member alone already drops every
# near-identical later member, so the keeper result is unchanged
# where it matters. The coarse quantizer keeps organic cells at
# ~CENT_MOD (= 67) members (measured max 91 at sf0.1), so the cap is
# inert on every fixture (asserted in tests) and the exact all-pairs
# oracles stay byte-identical; sem_cell_stats() surfaces over-cap
# cells operationally, and the oracle sweep skips (documented) when
# one exists.
SEM_CELL_CAP = 512


def _sem_cell_candidates(scored: DataFrame) -> DataFrame:
    """Bounded within-cell candidate relation from a (vec_id,
    embedding, cell, cs) scoring: rows (cell, id_a, ea, na, cs_a,
    id_b, eb, nb, cs_b) where id_a is strictly EARLIER than id_b in
    the keeper order (cs ASC, vec_id ASC) — every unordered
    within-cell pair appears exactly once for cells <= SEM_CELL_CAP
    members; over-cap cells contribute only their two earliest members
    on the a-side (the shared star fallback, operators/starcap.py).
    na/nb are per-row norm_of() values computed HERE (so any
    (vec_id, embedding, cell, cs) frame works, including the BLAS
    scale twin's) letting verifiers fold once per pair (cosine_pre)."""
    from adcirctime2cogs_spark.operators.similarity import norm_of
    from adcirctime2cogs_spark.operators.starcap import bounded_star_pairs

    pairs = bounded_star_pairs(
        scored.withColumn("_n", norm_of(F.col("embedding"))),
        "cell", ["cs", "vec_id"], SEM_CELL_CAP,
        id_col="vec_id", payload_cols=("embedding", "_n", "cs"),
        family="sem_cell",
    )
    return pairs.select(
        "cell",
        F.col("vec_id_a").alias("id_a"),
        F.col("embedding_a").alias("ea"),
        F.col("_n_a").alias("na"),
        F.col("cs_a"),
        F.col("vec_id_b").alias("id_b"),
        F.col("embedding_b").alias("eb"),
        F.col("_n_b").alias("nb"),
        F.col("cs_b"),
    )


def sem_cell_stats(spark: SparkSession, sf_dir: str) -> dict:
    """Operational stats for the IVF cell distribution feeding
    SemDeDup: total cells, over-cap (star-path) cells, max cell size,
    and the candidate pairs dropped to the two-representative star
    encoding — the semantic twin of lsh_bucket_stats (shared formula,
    operators/starcap.py)."""
    from adcirctime2cogs_spark.operators.starcap import star_group_stats

    sizes = _semdedup_scored(spark, sf_dir).groupBy("cell").agg(
        F.count("*").alias("cn")
    )
    g = star_group_stats(sizes, SEM_CELL_CAP)
    return {
        "n_cells": g["n_groups"],
        "n_over_cap": g["n_over_cap"],
        "max_cell": g["max_group"],
        "pairs_dropped_to_star": g["pairs_dropped_to_star"],
        "cell_cap": g["cap"],
    }


@_register("dedup_semantic_pairs", _semdedup_pairs_sql())
def dedup_semantic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup stage 1: within-cell semantic-duplicate pairs at
    cosine >= SEM_TAU.

    100 TB shape: the ONLY join fan-out is the bounded within-cell
    relation (_sem_cell_candidates) — organic cell sizes are
    ~CENT_MOD members by the coarse-quantizer construction, so
    candidates cost n * cell_size rather than n^2, SEM_CELL_CAP
    bounds the adversarial mass-duplication case, and the cell
    assignment itself is a pre-built layout_once artifact (no corpus
    x centroid re-scan at query time). Complements
    dedup_embedding_cosine: data-adaptive distance cells vs fixed
    axis-aligned sign-LSH half-spaces."""
    from adcirctime2cogs_spark.operators.similarity import cosine_pre

    cand = _sem_cell_candidates(_semdedup_scored(spark, sf_dir))
    cos = r4(cosine_pre(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")))
    return (
        cand.filter(cos >= SEM_TAU)
        .select(
            F.least("id_a", "id_b").alias("vec_a"),
            F.greatest("id_a", "id_b").alias("vec_b"),
            "cell", cos.alias("cos_sim"),
        )
    )


def _semdedup_keepers_from(scored: DataFrame) -> DataFrame:
    """Keeper-rule survivors from a (vec_id, embedding, cell, cs)
    scoring: drop an item iff ANY earlier member of its cell (keeper
    order: cs ASC, vec_id ASC) is a near-duplicate at cosine >=
    SEM_TAU. _sem_cell_candidates emits exactly the earlier->later
    pairs, bounded per cell; a dropped-id DISTINCT + anti-join
    finishes (unhinted: SemDeDup prunes 20-50%% of real corpora, so
    the dropped set is NOT broadcast-sized at scale — review r11).
    Shared by the oracled query and its BLAS scale twin."""
    from adcirctime2cogs_spark.operators.similarity import cosine_pre

    dropped = (
        _sem_cell_candidates(scored)
        .filter(
            r4(cosine_pre(F.col("ea"), F.col("eb"),
                          F.col("na"), F.col("nb"))) >= SEM_TAU
        )
        .select(F.col("id_b").alias("dup_id"))
        .distinct()
    )
    return (
        scored.join(
            dropped,
            scored.vec_id == dropped.dup_id,
            "left_anti",
        )
        .select("vec_id", "cell", F.col("cs").alias("cent_sim"))
    )


@_register("dedup_semantic_keepers", _semdedup_keepers_sql())
def dedup_semantic_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup stage 2: survivors under the paper's keeper rule —
    within each cell, order members by (cent_sim ASC, vec_id) and drop
    an item iff ANY earlier member is a near-duplicate (cosine >=
    SEM_TAU); the survivor of each duplicate group is therefore the
    member farthest from the centroid. The EXISTS-earlier formulation
    is exactly the paper's triu-max test (dropped items still disqualify
    later ones), so no sequential per-cell scan is needed: a directed
    within-cell join + DISTINCT dropped-ids + broadcast anti-join.

    100 TB shape: same bounded within-cell fan-out as the pairs query
    (SEM_CELL_CAP star fallback included — for the mass-duplication
    cell that triggers it, the earliest member alone drops every
    near-identical later member, so survivors are unchanged there);
    the dropped-id set is duplication-sized (small relative to n), so
    the anti-join broadcasts."""
    return _semdedup_keepers_from(_semdedup_scored(spark, sf_dir))


def _semdedup_scored_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path twin of _semdedup_scored: the IVF cell assignment
    computed by ONE Arrow-batched numpy matmul per partition against
    the broadcast centroid matrix, instead of the materialized-table
    route whose build scores each vector against each centroid with
    interpreted higher-order functions. Same assignment RULE (top-1
    by cosine rounded to 4 dp, centroid-id tie-break — ties resolved
    to the LOWEST centroid id exactly like the row_number ordering),
    arithmetic in float64 BLAS — so values can differ from the
    registered path only where two r4-rounded cosines collide at the
    1e-4 boundary, which the cross-validation test measures (exact
    set equality on the fixtures). 100 TB shape: centroids ship once
    per executor (k x dim floats), assignment is O(n*k) inside BLAS,
    no shuffle until the within-cell join."""
    import numpy as np

    from adcirctime2cogs_spark.operators.similarity import CENT_MOD

    emb = load_table(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.filter(F.col("vec_id") % CENT_MOD == 1)
        .select("vec_id", "embedding")
        .collect()
    )
    cent_ids = np.array([r.vec_id for r in cent_rows], dtype="int64")
    order = np.argsort(cent_ids)
    cent_ids = cent_ids[order]
    cmat = np.array(
        [cent_rows[i].embedding for i in order], dtype="float64"
    )
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    bc = spark.sparkContext.broadcast((cent_ids, cmat, cnorm))

    out_schema = (
        "vec_id long, embedding array<float>, cell long, cs double"
    )

    # rows per matmul chunk: bounds each worker's transient at
    # ~CHUNK x nlist x 8 B x 2 (scores + the norm-product divisor) —
    # ~250 MB at 15k cells — instead of an Arrow-batch-sized outer
    # product (10k x 15k x 3 arrays ~ 3.6 GB PER WORKER, which
    # global-OOMed a 128 GB box at 32 workers on the 1M leg)
    CHUNK = 1024

    def assign(batches):
        import pandas as pd

        ids, mat, nrm = bc.value
        mat_t = mat.T
        for pdf in batches:
            v = np.array(list(pdf["embedding"]), dtype="float64")
            if len(v) == 0:
                continue
            vnorm = np.sqrt((v * v).sum(axis=1))
            best = np.empty(len(v), dtype="int64")
            best_cs = np.empty(len(v), dtype="float64")
            for lo in range(0, len(v), CHUNK):
                hi = min(lo + CHUNK, len(v))
                # same op shape as the slow path's dot/(na*nb): one
                # division by the norm PRODUCT, then half-up 4-dp
                cs = (v[lo:hi] @ mat_t) / (
                    vnorm[lo:hi, None] * nrm[None, :]
                )
                # floor(x*1e4+0.5), the EXACT r4 rule incl. negatives
                # (review r11: sign*floor(abs*...) rounded half-AWAY-
                # FROM-ZERO, flipping -0.00005 to -0.0001 where the
                # slow path's r4 gives 0.0)
                cs = np.floor(cs * 1e4 + 0.5) / 1e4
                # top-1 by (cs desc, cent_id asc): argmax returns the
                # FIRST maximum and ids are ascending — the tie-break
                b = cs.argmax(axis=1)
                best[lo:hi] = b
                best_cs[lo:hi] = cs[np.arange(hi - lo), b]
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "embedding": pdf["embedding"],
                "cell": ids[best],
                "cs": best_cs,
            })

    return emb.select("vec_id", "embedding").mapInPandas(
        assign, out_schema
    )


@_register("dedup_semantic_keepers_scale")  # rows-only: BLAS fold order
def dedup_semantic_keepers_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keepers on the BLAS assignment path — the PRODUCTION
    variant of dedup_semantic_keepers, whose deterministic oracle-able
    centroid rule makes the one-time cell build O(n*nlist) in
    interpreted higher-order functions (documented boundary in
    tools/scale_check.run_semdedup_leg). Here assignment is a numpy
    matmul behind mapInPandas, so a 1M x 15k-cell build is seconds of
    BLAS instead of hours. Registered rows-only: matmul accumulation
    order can flip an r4-rounded cosine at the 1e-4 boundary vs the
    sequential-fold oracle, so values are pinned by the exact
    cross-validation test against dedup_semantic_keepers at fixture
    scales (tests/test_dedup.py) and the 1M-vector leg, not by a
    DuckDB hash."""
    return _semdedup_keepers_from(_semdedup_scored_fast(spark, sf_dir))


# ------------------------------------------------------------------
# D4 prototypicality pruning (Tirumala et al. 2023): SemDeDup's
# published companion — after semantic dedup, DROP the most
# PROTOTYPICAL fraction of each cluster (the members closest to their
# centroid carry the least marginal information; the diverse edge
# survives). Rides the same materialized IVF cell assignment and
# centroid-similarity scoring as dedup_semantic_* above.
# Registered as dedup_d4_prune in round 11 (the r09/r10 windows were
# at capacity — see the staggering note in registry.py);
# tests/test_dedup.py pins DuckDB parity.

D4_PRUNE_Q = 0.2  # fraction of each cell to drop, most-central first


def _d4_prune_sql(q: float = D4_PRUNE_Q) -> str:
    return f"""{_semdedup_assign_sql()},
    ranked AS (
      SELECT vec_id, cell, cs,
             row_number() OVER (PARTITION BY cell
                                ORDER BY cs DESC, vec_id) AS proto_rank,
             count(*) OVER (PARTITION BY cell) AS cn
      FROM assign
    )
    SELECT vec_id, cell, cs AS cent_sim, proto_rank
    FROM ranked
    WHERE proto_rank > CAST(ceil({q} * cn) AS BIGINT)
    """


@_register("dedup_d4_prune", _d4_prune_sql())
def d4_prototype_prune(spark: SparkSession, sf_dir: str,
                       q: float = D4_PRUNE_Q) -> DataFrame:
    """Survivors of D4 prototypicality pruning: within each IVF cell,
    rank members by cosine-to-own-centroid DESC (vec_id tie-break)
    and drop the top ceil(q * cell_size) — the prototype core — so
    each cell keeps its diverse boundary. Returns (vec_id, cell,
    cent_sim, proto_rank).

    100 TB shape: the scoring input is the layout_once cell artifact
    plus one broadcast centroid join (no corpus x centroid rescan);
    the only added work over dedup_semantic_keepers is a per-cell
    window, and cells are bounded (~CENT_MOD members) so the window
    never sees a skewed partition."""
    from pyspark.sql import Window as W

    scored = _semdedup_scored(spark, sf_dir)
    w = W.partitionBy("cell").orderBy(F.col("cs").desc(), "vec_id")
    ranked = scored.select(
        "vec_id", "cell", "cs",
        F.row_number().over(w).alias("proto_rank"),
        F.count(F.lit(1)).over(W.partitionBy("cell")).alias("cn"),
    )
    return (
        ranked.filter(
            F.col("proto_rank")
            > F.ceil(F.lit(q) * F.col("cn")).cast("bigint")
        )
        .select("vec_id", "cell", F.col("cs").alias("cent_sim"),
                "proto_rank")
    )


# ------------------------------------------------------------------
# Incremental fuzzy dedup — the GROWING-corpus shape. A 100 TB corpus
# is never re-deduped from scratch when a crawl increment lands: the
# base corpus's LSH bands, stop-filtered shingles, per-doc set sizes,
# and frozen stop-shingle set are materialized ONCE per base version
# (tables.layout_once, same discipline as the PQ/IVF serving
# artifacts), and each increment shingles only its OWN documents,
# probes the persisted band table, and verifies candidates by a
# by-id shingle fetch. The base documents table itself is never
# re-read — increments work even with the raw base text in cold
# storage (pinned by test).
#
# Contract: with the stop set FROZEN at the base version (the
# production stance — stop shingles are recomputed at compaction, not
# per increment), the output equals dedup_minhash_lsh_pairs over the
# concatenated corpus restricted to pairs touching the new batch,
# whenever (a) no shingle crosses the DF_CAP boundary due to the new
# batch (incremental_stop_drift == 0) and (b) no LSH bucket exceeds
# LSH_BUCKET_CAP (lsh_bucket_stats.n_over_cap == 0, true at all
# fixture scales). Library surface (two-directory signature — the
# registry contract is single-dir); equivalence pinned in
# tests/test_dedup.py.

MH_INC_VER = "inc-v3"  # v3: hashes/ is md5(normalized_text) — the
# SAME exact-duplicate definition dedup_exact is oracle-pinned on
# (review r11: v2 used raw-text xxhash64, which both missed
# case/whitespace-variant dups the batch path groups AND, being
# 64-bit, silently merges unrelated docs near ~5e9 documents by
# birthday collision)


def _minhash_base_layout(spark: SparkSession, base_dir: str) -> str:
    """Materialize the base corpus's incremental-dedup artifacts once
    per (base_dir, data version): bands/, shingles/ (stop-filtered),
    sizes/, stop/ under one atomically-published layout dir. The
    resolved path is stored in the session memo under base_dir; if the
    base text is gone (cold storage), the memo keeps serving it — a
    fresh session then needs the recorded layout path
    (dedup_incremental_pairs' base_layout parameter, the catalog
    contract)."""
    return memo.get(spark, "dedup.mh_incremental_layout", base_dir,
                    lambda: _build_minhash_base_layout(spark, base_dir))


def _build_minhash_base_layout(spark: SparkSession, base_dir: str) -> str:
    from adcirctime2cogs_spark.tables import layout_once

    def build(tmp: str) -> None:
        docs = load_table(spark, base_dir, "documents")
        sh = shingles(docs)
        stop = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("dfc"))
            .filter(F.col("dfc") > DF_CAP)
            .select("sh")
        )
        stop.write.parquet(f"{tmp}/stop")
        stop_w = spark.read.parquet(f"{tmp}/stop")
        kept = sh.join(F.broadcast(stop_w), "sh", "left_anti")
        kept.select("doc_id", "sh").write.parquet(f"{tmp}/shingles")
        kept.groupBy("doc_id").agg(F.count("*").alias("n")).write.parquet(
            f"{tmp}/sizes"
        )
        aggs = _mh_aggs()
        _lsh_bands(sh.groupBy("doc_id").agg(*aggs)).write.parquet(
            f"{tmp}/bands"
        )
        docs.select(
            "doc_id",
            F.md5(normalized_text(F.col("text"))).alias("h"),
        ).write.parquet(f"{tmp}/hashes")
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    return layout_once(
        spark, base_dir, "mh_incremental", build, code_ver=MH_INC_VER
    )


def dedup_incremental_exact(spark: SparkSession, base_dir: str,
                            new_dir: str,
                            base_layout: str | None = None) -> DataFrame:
    """Exact-duplicate gate for a crawl increment — the first filter a
    batch hits before fuzzy dedup: (doc_id, dup_of) for every NEW
    document whose text content hash already exists in the base (or
    earlier in the batch, dup_of = the lowest matching doc_id). The
    hash is md5 over NORMALIZED text — the identical duplicate
    definition and keep-lowest convention as the oracle-pinned
    dedup_exact, and 128 bits so multi-billion-doc ledgers stay
    birthday-safe (review r11). The base side is the persisted
    hashes/ subtable of the incremental layout — one id+hash column
    pair per base doc, no text re-read."""
    base = base_layout or _minhash_base_layout(spark, base_dir)
    b_h = spark.read.parquet(f"{base}/hashes")
    n_h = load_table(spark, new_dir, "documents").select(
        "doc_id", F.md5(normalized_text(F.col("text"))).alias("h")
    )
    all_h = b_h.unionByName(n_h)
    first = all_h.groupBy("h").agg(F.min("doc_id").alias("dup_of"))
    return (
        n_h.join(first, "h")
        .filter(F.col("doc_id") != F.col("dup_of"))
        .select("doc_id", "dup_of")
    )


def incremental_stop_drift(spark: SparkSession, base_dir: str,
                           new_dir: str,
                           base_layout: str | None = None) -> int:
    """Validity probe for the frozen-stop-set contract: the number of
    shingles whose doc frequency is <= DF_CAP in the base corpus but
    > DF_CAP over base + increment. Zero means the incremental output
    is exactly the from-scratch rerun's; nonzero is the signal to
    compact (re-materialize the base layout over the merged corpus).
    base_layout passes a recorded layout path directly — without it
    the probe could not run against a cold-storage base in a fresh
    session, making the contract's own precondition uncheckable in
    exactly the scenario the module exists for (review r11)."""
    base = base_layout or _minhash_base_layout(spark, base_dir)
    b_sh = spark.read.parquet(f"{base}/shingles")
    n_sh = shingles(load_table(spark, new_dir, "documents"))
    union_df = (
        b_sh.select("sh").unionByName(n_sh.select("sh"))
        .groupBy("sh").agg(F.count("*").alias("dfc"))
        .filter(F.col("dfc") > DF_CAP)
    )
    stop = spark.read.parquet(f"{base}/stop")
    return union_df.join(F.broadcast(stop), "sh", "left_anti").count()


def dedup_incremental_pairs(spark: SparkSession, base_dir: str,
                            new_dir: str,
                            jaccard_min: float = 0.5,
                            base_layout: str | None = None) -> DataFrame:
    """Near-dup pairs TOUCHING the new batch (new-vs-base and
    new-vs-new), verified at word-3-gram Jaccard >= jaccard_min:
    (doc_a, doc_b, jaccard r4). doc_ids must be disjoint between base
    and increment (the growing-corpus invariant).

    100 TB shape: per increment the work is one shingle pass over the
    NEW documents, one band join probing the persisted base band
    table (bucket-key equi-join — only colliding buckets move), one
    by-id shingle fetch for the candidate pairs, and a candidate-
    sized verify agg. Nothing rescans base text or re-signs base
    docs. base_layout passes a previously recorded layout path
    directly (the catalog contract for cold-storage bases in a fresh
    session)."""
    base = base_layout or _minhash_base_layout(spark, base_dir)
    b_bands = spark.read.parquet(f"{base}/bands")
    b_sh = spark.read.parquet(f"{base}/shingles")
    b_sizes = spark.read.parquet(f"{base}/sizes")
    stop = spark.read.parquet(f"{base}/stop")

    ndocs = load_table(spark, new_dir, "documents")
    nsh_all = shingles(ndocs)
    nsh = nsh_all.join(F.broadcast(stop), "sh", "left_anti")
    aggs = _mh_aggs()
    n_bands = _lsh_bands(nsh_all.groupBy("doc_id").agg(*aggs))

    all_bands = b_bands.unionByName(n_bands)
    cand = (
        n_bands.select(
            F.col("doc_id").alias("id_n"), "band", "bkey"
        )
        .join(all_bands.select(
            F.col("doc_id").alias("id_o"), "band", "bkey"
        ), ["band", "bkey"])
        .filter(F.col("id_n") != F.col("id_o"))
        .select(
            F.least("id_n", "id_o").alias("doc_a"),
            F.greatest("id_n", "id_o").alias("doc_b"),
        )
        .distinct()
    )

    sh_all = b_sh.unionByName(nsh.select("doc_id", "sh"))
    sizes_all = b_sizes.unionByName(
        nsh.groupBy("doc_id").agg(F.count("*").alias("n"))
    )
    sa = sh_all.select(F.col("doc_id").alias("doc_a"), "sh")
    sb = sh_all.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    za = sizes_all.select(F.col("doc_id").alias("doc_a"),
                          F.col("n").alias("na"))
    zb = sizes_all.select(F.col("doc_id").alias("doc_b"),
                          F.col("n").alias("nb"))
    jac = F.col("c") * 1.0 / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .filter(jac >= jaccard_min)
        .select("doc_a", "doc_b", r4(jac).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Paragraph-level first-keeper dedup.

PARA_K = 8  # tokens per paragraph tile

# Keeper-key encoding: doc_id * 2^20 + tile position. Exact while
# p < 2^20 (docs up to 2^23 tokens at PARA_K=8) and doc_id < 2^43
# (no int64 overflow) — the same documented-range discipline as the
# survivor keeper key. Both engines compute the identical expression.
# The range is ENFORCED, not just documented (ADVICE r11): an in-plan
# conditional raise_error on the tile rows makes a violating corpus
# fail the job instead of silently colliding a document's tiles into
# its neighbor's key space (wrong first-keeper choices, no error).
_PARA_ENC = 1 << 20
_PARA_DOC_MAX = 1 << 43

_PARAGRAPH_FIRST_SQL = f"""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
tiles AS (
  SELECT doc_id, i AS p,
         array_to_string(t[i*{PARA_K}+1 : i*{PARA_K}+{PARA_K}], ' ') AS tile
  FROM (
    SELECT doc_id, t,
           unnest(range(0, (len(t) + {PARA_K - 1}) // {PARA_K})) AS i
    FROM tok
  )
),
keeper AS (
  SELECT tile, min(doc_id * {_PARA_ENC} + p) AS kkey FROM tiles GROUP BY tile
),
kept AS (
  SELECT t.doc_id, t.p, t.tile
  FROM tiles t JOIN keeper k
    ON t.tile = k.tile AND t.doc_id * {_PARA_ENC} + t.p = k.kkey
)
SELECT d.doc_id, d.n_tiles,
       coalesce(k.n_kept, 0) AS n_kept,
       coalesce(k.kept_text, '') AS kept_text
FROM (SELECT doc_id, count(*) AS n_tiles FROM tiles GROUP BY doc_id) d
LEFT JOIN (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tile, ' ' ORDER BY p) AS kept_text
  FROM kept GROUP BY doc_id
) k USING (doc_id)
"""


@_register("dedup_paragraph_first", _PARAGRAPH_FIRST_SQL)
def dedup_paragraph_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level FIRST-KEEPER dedup (the Dolma/RefinedWeb
    paragraph-dedup shape): split every document into non-overlapping
    PARA_K-token tiles (the corpus has no newline structure, so the
    tile is the deterministic stand-in for a paragraph), keep each
    distinct tile's globally FIRST occurrence — min (doc_id, position)
    — and reassemble what remains of each document. Distinct from
    dedup_substring_spans/text_substring_scrub, which REMOVE a
    repeated window from every document including the first: here
    exactly one copy of every tile survives somewhere in the corpus,
    the semantics Dolma documents for its paragraph dedup.

    Output: (doc_id, n_tiles, n_kept, kept_text) — kept_text '' when a
    document contributed nothing first.

    100 TB shape: one row-local explode builds the tile inventory; ONE
    hash-groupBy on tile content picks keepers (at scale the group key
    would be a 128-bit content hash — same plan, narrower exchange;
    the raw string keeps the DuckDB oracle byte-exact here); keepers
    flow back via an equi-join on the same key so Catalyst reuses the
    exchange; reassembly is a per-doc hash-agg over only the KEPT
    tiles. No self-join, no window over the corpus, no driver collect.

    Reference parity: none (the reference has no text surface) —
    north-star dedup family, BASELINE.json."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("t"))
    n_tiles_col = F.ceil(F.size("t") / F.lit(PARA_K)).cast("long")
    tiles = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0).cast("long"), n_tiles_col - 1),
                lambda i: F.struct(
                    i.alias("p"),
                    F.concat_ws(
                        " ",
                        F.slice(F.col("t"), (i * PARA_K + 1).cast("int"),
                                PARA_K),
                    ).alias("tile"),
                ),
            )
        ).alias("pt"),
    ).select(
        "doc_id",
        # range guard — zero-cost branch when in range, loud failure
        # when the keeper-key encoding would collide (see _PARA_ENC)
        F.when(
            (F.col("pt.p") >= F.lit(_PARA_ENC))
            | (F.col("doc_id") >= F.lit(_PARA_DOC_MAX)),
            F.raise_error(
                F.concat(
                    F.lit(
                        "paragraph keeper key out of encodable range "
                        f"(need p < {_PARA_ENC}, doc_id < "
                        f"{_PARA_DOC_MAX}): doc_id="
                    ),
                    F.col("doc_id").cast("string"),
                    F.lit(" p="),
                    F.col("pt.p").cast("string"),
                )
            ),
        ).otherwise(F.col("pt.p")).alias("p"),
        F.col("pt.tile").alias("tile"),
    )
    kkey = F.col("doc_id") * _PARA_ENC + F.col("p")
    keeper = tiles.groupBy("tile").agg(F.min(kkey).alias("kkey"))
    kept = tiles.join(keeper, "tile").filter(kkey == F.col("kkey"))
    per_doc = tiles.groupBy("doc_id").agg(F.count("*").alias("n_tiles"))
    kept_agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tile"))),
                lambda s: s["tile"],
            ),
            " ",
        ).alias("kept_text"),
    )
    return per_doc.join(kept_agg, "doc_id", "left").select(
        "doc_id",
        "n_tiles",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("kept_text", F.lit("")).alias("kept_text"),
    )
