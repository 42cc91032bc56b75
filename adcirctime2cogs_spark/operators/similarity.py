"""Similarity search over the embeddings table (north-star scope):
brute-force cosine top-k as the exactness baseline, a sign-LSH bucketed
variant as the sub-quadratic scale path, a threshold self-join, and the
pyspark.ml random-projection LSH integration.

Vector math stays in built-in higher-order functions (zip_with +
aggregate => JVM codegen, no Python in the hot path). Cosine is
computed in double precision with the identical fold order in the
DuckDB oracles (list_inner_product over double-cast lists), rounded to
4dp on both sides before ranking so rank ties break identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from adcirctime2cogs_spark import memo
from adcirctime2cogs_spark.functions.numeric import r4, rn

from adcirctime2cogs_spark.tables import load_table

QUERIES = {}
ORACLES = {}

N_QUERY_VECS = 5  # vec_id < 5 are the probe vectors
TOP_K = 5
SIGN_BITS = 6  # sign-LSH bucket = sign pattern of the first 6 dims
# fixture embedding dimensionality; the covariance oracle's unnest bound
# derives from it (generated, not typed — a fixture regenerated at a
# different dim must desynchronize loudly, not silently NULL-pad)
EMB_DIM = 64


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def dot(a: Column, b: Column) -> Column:
    """Sum of elementwise products, double precision, index order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def norm_of(e: Column) -> Column:
    """sqrt(dot(e, e)) — the exact self-dot fold cosine() runs, lifted
    out so it can be computed ONCE PER ROW before a join instead of
    once per pair inside it (optimization r12, guide §2.3/§4: the
    higher-order-function fold is interpreted per element, and the two
    self-dots were 2/3 of every per-pair cosine's work)."""
    return F.sqrt(dot(e, e))


def cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine() with both norms precomputed via norm_of(): the quotient
    dot(a,b) / (na * nb) multiplies and divides the SAME doubles in the
    SAME order as cosine(), so results are bit-identical — only where
    the self-dot folds execute moves (per row, not per pair)."""
    return dot(a, b) / (na * nb)


# DuckDB twin of cosine(): identical structure over double-cast lists.
_COS_SQL = (
    "list_inner_product(list_transform({a}, x -> CAST(x AS DOUBLE)),"
    " list_transform({b}, x -> CAST(x AS DOUBLE)))"
    " / (sqrt(list_inner_product(list_transform({a}, x -> CAST(x AS DOUBLE)),"
    " list_transform({a}, x -> CAST(x AS DOUBLE))))"
    " * sqrt(list_inner_product(list_transform({b}, x -> CAST(x AS DOUBLE)),"
    " list_transform({b}, x -> CAST(x AS DOUBLE)))))"
)


def _probe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query vec) x (candidate vec) pairs via a broadcast of the tiny
    probe side — the scalable shape: candidates stream, probes ship.
    Both sides carry their norm_of() so the per-pair score is one fold,
    not three (bit-identical, see cosine_pre); the candidate side is
    spread off the single-row-group fixture scan (row-local scores,
    partitioning-independent — tables.spread_scan)."""
    from adcirctime2cogs_spark.tables import load_table_spread

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"),
        norm_of(F.col("embedding")).alias("q_n"),
    )
    c = load_table_spread(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"),
        norm_of(F.col("embedding")).alias("c_n"),
    )
    return F.broadcast(q).crossJoin(c).filter(F.col("q_id") != F.col("c_id"))


@_register(
    "sim_topk_bruteforce",
    f"""
    WITH pairs AS (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             round({_COS_SQL.format(a="q.embedding", b="c.embedding")}, 4) AS cos_sim
      FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
      WHERE q.vec_id < {N_QUERY_VECS}
    )
    SELECT q_id, c_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos_sim DESC, c_id) AS rn
      FROM pairs
    ) WHERE rn <= {TOP_K}
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for each probe vector: broadcast probes x
    streamed candidates, rank per probe. The exactness baseline every
    ANN variant is measured against."""
    pairs = _probe_pairs(spark, sf_dir).select(
        "q_id",
        "c_id",
        r4(
            cosine_pre(
                F.col("q_emb"), F.col("c_emb"), F.col("q_n"), F.col("c_n")
            )
        ).alias("cos_sim"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("c_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "c_id", "cos_sim")
    )


# ColBERT-style late interaction: each vector is treated as N_SUB
# contiguous SUB_DIM-dim token vectors; score(q, c) = sum over q's
# sub-vectors of the max cosine against any of c's sub-vectors.
N_SUB = 4
SUB_DIM = EMB_DIM // N_SUB


def _subvecs(emb: Column) -> Column:
    """array<struct<v array<double>, n double>> of the N_SUB
    contiguous slices with their norms precomputed ONCE per row — the
    per-pair cosine then folds one dot product instead of three
    (recomputing both norms inside the cross join tripled the hot
    path's fold work). The norm fold is the identical expression the
    per-pair version used, so the doubles are bit-identical."""

    def one(p: int) -> Column:
        v = F.transform(
            F.slice(emb, p * SUB_DIM + 1, SUB_DIM),
            lambda x: x.cast("double"),
        )
        return F.struct(
            v.alias("v"),
            F.sqrt(_sum_arr(F.transform(v, lambda x: x * x))).alias("n"),
        )

    return F.array(*[one(p) for p in range(N_SUB)])


def _sum_arr(a: Column) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v)


def _maxsim_score(q_subs: Column, c_subs: Column) -> Column:
    """The maxsim kernel over two _subvecs columns: sum over query
    sub-vectors of the max per-sub-pair cosine (each r4-rounded before
    the max), r4-rounded. ONE definition shared by the exhaustive and
    reranked queries — mirroring the shared SQL fragments — so the
    bit-identical-scores contract cannot desync on a one-sided edit."""

    def sub_cos(qp: Column, cp: Column) -> Column:
        d = _sum_arr(F.zip_with(qp["v"], cp["v"], lambda x, y: x * y))
        return r4(d / (qp["n"] * cp["n"]))

    return r4(
        F.aggregate(
            q_subs,
            F.lit(0.0),
            lambda acc, qp: acc
            + F.array_max(F.transform(c_subs, lambda cp: sub_cos(qp, cp))),
        )
    )


# shared oracle fragments: the sub-vector CTEs and the maxsim scoring
# over an arbitrary pair source — both the exhaustive query and the
# LSH-shortlisted rerank derive from these so they cannot desync
_SUBVEC_SQL = f"""pos AS (SELECT unnest(range({N_SUB})) AS p),
    qsub AS (
      SELECT vec_id AS q_id, p,
             list_transform(list_slice(embedding, p*{SUB_DIM}+1,
                                       p*{SUB_DIM}+{SUB_DIM}),
                            x -> CAST(x AS DOUBLE)) AS qs
      FROM embeddings, pos WHERE vec_id < {N_QUERY_VECS}
    ),
    csub AS (
      SELECT vec_id AS c_id, p,
             list_transform(list_slice(embedding, p*{SUB_DIM}+1,
                                       p*{SUB_DIM}+{SUB_DIM}),
                            x -> CAST(x AS DOUBLE)) AS cs
      FROM embeddings, pos
    )"""


def _maxsim_score_sql(pair_join: str) -> str:
    """sub/score/top-k tail over a pair source expressed as the JOIN
    clause between qsub and csub (the exhaustive query joins on
    q_id != c_id; the rerank routes through the candidate table)."""
    return f"""
    sub AS (
      SELECT qsub.q_id, csub.c_id, qsub.p AS q_pos,
             max(round(list_inner_product(qs, cs)
                       / (sqrt(list_inner_product(qs, qs))
                          * sqrt(list_inner_product(cs, cs))), 4)) AS best
      FROM {pair_join}
      GROUP BY 1, 2, 3
    ),
    score AS (
      SELECT q_id, c_id, round(sum(best), 4) AS maxsim
      FROM sub GROUP BY 1, 2
    )
    SELECT q_id, c_id, maxsim FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY maxsim DESC, c_id) AS rn
      FROM score
    ) WHERE rn <= {TOP_K}
    """


_MAXSIM_SQL = (
    "WITH "
    + _SUBVEC_SQL
    + ","
    + _maxsim_score_sql("qsub JOIN csub ON qsub.q_id != csub.c_id")
)


@_register("sim_maxsim_multivector", _MAXSIM_SQL)
def sim_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vector (late-interaction) top-k retrieval, the ColBERT
    scoring shape: each embedding is read as N_SUB contiguous token
    sub-vectors; score(q, c) = sum over q's sub-vectors of the max
    cosine against any of c's sub-vectors; top-k candidates per probe.

    Scale shape: the probe side ships as a broadcast of
    N_QUERY_VECS rows; the candidate side streams ONE row per vector
    (never exploded), and the entire N_SUB x N_SUB interaction matrix
    evaluates row-locally inside nested higher-order functions
    (aggregate -> array_max -> transform -> zip_with), all JVM
    codegen — no shuffle until the per-probe top-k. Per-sub-pair
    cosines round to 4dp on BOTH engines before the max so rank ties
    break identically (the module's r4 convention). The candidate
    side is spread off the single-row-group fixture scan (row-local
    scores, partitioning-independent — tables.spread_scan)."""
    from adcirctime2cogs_spark.tables import load_table_spread

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"),
        _subvecs(F.col("embedding")).alias("q_subs"),
    )
    c = load_table_spread(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("c_id"),
        _subvecs(F.col("embedding")).alias("c_subs"),
    )
    score = _maxsim_score(F.col("q_subs"), F.col("c_subs"))
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", score.alias("maxsim"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("maxsim").desc(), F.col("c_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "c_id", "maxsim")
    )


def _sign_bucket(emb: Column, offset: int = 0,
                 n_bits: int = SIGN_BITS) -> Column:
    """Sign-pattern bucket of ``n_bits`` dims starting at ``offset``
    (a fixed axis-aligned random-hyperplane LSH — deterministic and
    engine-neutral; distinct offsets give independent hash tables;
    wider n_bits = finer buckets, the knob an index tunes to corpus
    size)."""
    bits = [
        F.when(
            F.element_at(emb, offset + i + 1).cast("double") >= 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
        for i in range(n_bits)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _sign_sql(e: str, offset: int = 0, n_bits: int = SIGN_BITS) -> str:
    """DuckDB twin of _sign_bucket(emb, offset, n_bits)."""
    return " + ".join(
        f"(CASE WHEN CAST({e}[{offset + i + 1}] AS DOUBLE) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(n_bits)
    )


# derived from _sign_sql so the single- and multi-table oracles can
# never desynchronize from a one-sided edit
_SIGN_SQL_TMPL = _sign_sql("{e}")

L_TABLES = 4  # independent sign-LSH tables over disjoint dim blocks
# oracle-side table list; MUST track L_TABLES (generated, not typed)
_TBL_LIST = ", ".join(str(t) for t in range(L_TABLES))
# radius-1 probe flip list, DERIVED from SIGN_BITS like _TBL_LIST
# (review r11: hand-typed xor literals silently desync when the
# index is widened)
_FLIP_LIST = ", ".join(
    ["bucket"] + [f"xor(bucket, {1 << i})" for i in range(SIGN_BITS)]
)


def _multitable_buckets(emb: DataFrame, id_alias: str) -> DataFrame:
    """(id, tbl, bucket) rows for all L_TABLES sign tables — ids only,
    so the LSH fan-out never replicates embedding arrays."""
    return emb.select(
        F.col("vec_id").alias(id_alias),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        _sign_bucket(F.col("embedding"), t * SIGN_BITS).alias(
                            "bucket"
                        ),
                    )
                    for t in range(L_TABLES)
                ]
            )
        ).alias("tb"),
    ).select(
        id_alias, F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
    )


_MULTITABLE_BUCKET_CASE = (
    "CASE tbl "
    + " ".join(
        f"WHEN {t} THEN {_sign_sql('embedding', t * SIGN_BITS)}"
        for t in range(L_TABLES - 1)
    )
    + f" ELSE {_sign_sql('embedding', (L_TABLES - 1) * SIGN_BITS)} END"
)


def _multiprobe_candidates(emb: DataFrame) -> DataFrame:
    """Deduped (q_id, c_id) candidate pairs from the multiprobe
    multi-table sign-LSH: the probe fan-out (L x (SIGN_BITS+1) int
    rows per query) broadcasts against the L-int-rows-per-vector
    bucket table — ids only, arrays never ride the fan-out. Shared by
    the cosine re-rank (sim_topk_bucketed) and the maxsim rerank."""
    cb = _multitable_buckets(emb, "c_id")
    probe_structs = []
    for t in range(L_TABLES):
        b = _sign_bucket(F.col("embedding"), t * SIGN_BITS)
        for flip in [0] + [1 << i for i in range(SIGN_BITS)]:
            probe_structs.append(
                F.struct(
                    F.lit(t).alias("tbl"),
                    b.bitwiseXOR(F.lit(flip)).alias("bucket"),
                )
            )
    q = (
        emb.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("q_id"),
            F.explode(F.array(*probe_structs)).alias("tb"),
        )
        .select(
            "q_id", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
        )
    )
    return (
        F.broadcast(q)
        .join(cb, ["tbl", "bucket"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
        .distinct()
    )


# the multiprobe candidate CTEs, shared by the bucketed cosine re-rank
# and the maxsim rerank oracle (derived once so they cannot desync)
_LSH_CAND_SQL = f"""cb AS (
      SELECT vec_id, tbl, {_MULTITABLE_BUCKET_CASE} AS bucket
      FROM embeddings, (SELECT unnest([{_TBL_LIST}]) AS tbl) t
    ),
    qp AS (
      SELECT vec_id AS q_id, tbl,
             unnest([{_FLIP_LIST}]) AS bucket
      FROM cb WHERE vec_id < {N_QUERY_VECS}
    ),
    cand AS (
      SELECT DISTINCT q.q_id, c.vec_id AS c_id
      FROM qp q JOIN cb c ON c.tbl = q.tbl AND c.bucket = q.bucket
      WHERE q.q_id != c.vec_id
    )"""


@_register(
    "sim_topk_bucketed",
    "WITH "
    + _LSH_CAND_SQL
    + f""",
    pairs AS (
      SELECT d.q_id, d.c_id,
             round({_COS_SQL.format(a="qe.embedding", b="ce.embedding")}, 4) AS cos_sim
      FROM cand d
      JOIN embeddings qe ON qe.vec_id = d.q_id
      JOIN embeddings ce ON ce.vec_id = d.c_id
    )
    SELECT q_id, c_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos_sim DESC, c_id) AS rn
      FROM pairs
    ) WHERE rn <= {TOP_K}
    """,
)
def sim_topk_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table multiprobe sign-LSH ANN: L_TABLES independent sign
    projections over disjoint dim blocks, each probed at the query's
    own bucket PLUS the SIGN_BITS one-bit-flip buckets (multiprobe);
    candidate sets union across tables, then one exact cosine re-rank.

    Independent tables are the standard recall amplifier a single
    table can't match: a true neighbor is missed only if it differs in
    sign in EVERY table's dim block (miss^L instead of miss). Still
    sub-quadratic — comparisons scale with L x (SIGN_BITS+1) x bucket
    occupancy, not n^2.

    Plan shape for 100 TB: the bucket join carries ONLY ids — the
    probe fan-out (L x 7 int rows per query) broadcasts, the candidate
    side is L int rows per vector, and embeddings are fetched by key
    once per DEDUPED candidate pair. Arrays never ride the bucket
    fan-out and the distinct runs on (long, long) pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    cand = _multiprobe_candidates(emb)
    qe = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"),
        norm_of(F.col("embedding")).alias("q_n"),
    )
    ce = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"),
        norm_of(F.col("embedding")).alias("c_n"),
    )
    pairs = (
        cand.join(F.broadcast(qe), "q_id")
        .join(ce, "c_id")
        .select(
            "q_id",
            "c_id",
            r4(
                cosine_pre(
                    F.col("q_emb"), F.col("c_emb"),
                    F.col("q_n"), F.col("c_n"),
                )
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("c_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "c_id", "cos_sim")
    )


def _subvector_candidates(emb: DataFrame,
                          n_bits: int = SIGN_BITS) -> DataFrame:
    """Per-SUB-VECTOR sign-LSH candidates for late-interaction
    (maxsim) retrieval: every embedding indexes under N_SUB bucket
    keys — the sign pattern of each sub-vector's own first n_bits
    dims — and a probe multiprobes each of ITS sub-vectors' buckets
    plus the 1-bit flips. Any query sub-vector may match ANY
    candidate sub-vector (maxsim's max ranges over all candidate
    positions), so the join is on the bucket alone.

    This is the late-interaction analogue of multiprobe: full-vector
    sign buckets only weakly proxy maxsim's winners (per-sub-vector
    alignment drives the score — the r07 rerank recalled 0.52 of the
    exhaustive top-k), while bucketing each sub-space independently
    recalls a winner whenever ANY of its aligned sub-pairs agrees on
    n_bits signs (miss^(N_SUB^2) shape instead of miss). Measured at
    sf0.01: recall 0.96 vs the exhaustive maxsim (pinned >= 0.9 in
    tests/test_similarity.py).

    Scale shape: ids only — the probe fan-out is
    N_SUB x (n_bits + 1) ints per query and broadcasts; the candidate
    index is <= N_SUB ints per vector; candidate volume per probe is
    bounded by bucket occupancy n x N_SUB / 2^n_bits per probed
    bucket, so n_bits is the index's corpus-size knob (the 1M-vector
    leg runs the same plan at n_bits=16: sub-1% candidate fraction,
    planted twins all recalled — tools/scale_check.py)."""
    cb = emb.select(
        F.col("vec_id").alias("c_id"),
        F.explode(
            F.array(*[
                _sign_bucket(F.col("embedding"), p * SUB_DIM, n_bits)
                for p in range(N_SUB)
            ])
        ).alias("bucket"),
    ).distinct()
    probe_buckets = []
    for p in range(N_SUB):
        b = _sign_bucket(F.col("embedding"), p * SUB_DIM, n_bits)
        for flip in [0] + [1 << i for i in range(n_bits)]:
            probe_buckets.append(b.bitwiseXOR(F.lit(flip)))
    q = (
        emb.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("q_id"),
            F.explode(F.array(*probe_buckets)).alias("bucket"),
        )
        .distinct()
    )
    return (
        F.broadcast(q)
        .join(cb, "bucket")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
        .distinct()
    )


def _subvector_cand_sql(n_bits: int = SIGN_BITS) -> str:
    """DuckDB twin of _subvector_candidates (CTE named `cand`)."""
    bucket_case = (
        "CASE p "
        + " ".join(
            f"WHEN {p} THEN {_sign_sql('embedding', p * SUB_DIM, n_bits)}"
            for p in range(N_SUB - 1)
        )
        + f" ELSE {_sign_sql('embedding', (N_SUB - 1) * SUB_DIM, n_bits)} END"
    )
    flips = ", ".join(
        str(f) for f in [0] + [1 << i for i in range(n_bits)]
    )
    return f"""scb AS (
      SELECT DISTINCT vec_id AS c_id, {bucket_case} AS bucket
      FROM embeddings, (SELECT unnest(range({N_SUB})) AS p) sp
    ),
    sqp AS (
      SELECT DISTINCT qb.q_id, xor(qb.bucket, fl.f) AS bucket
      FROM (
        SELECT vec_id AS q_id, {bucket_case} AS bucket
        FROM embeddings, (SELECT unnest(range({N_SUB})) AS p) sp
        WHERE vec_id < {N_QUERY_VECS}
      ) qb, (SELECT unnest([{flips}]) AS f) fl
    ),
    cand AS (
      SELECT DISTINCT q.q_id, c.c_id
      FROM sqp q JOIN scb c USING (bucket)
      WHERE q.q_id != c.c_id
    )"""


_MAXSIM_RERANK_SQL = (
    "WITH "
    + _subvector_cand_sql()
    + ",\n    "
    + _SUBVEC_SQL
    + ","
    + _maxsim_score_sql(
        "cand d JOIN qsub ON qsub.q_id = d.q_id"
        " JOIN csub ON csub.c_id = d.c_id"
    )
)


@_register("sim_maxsim_rerank", _MAXSIM_RERANK_SQL)
def sim_maxsim_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage late-interaction retrieval, the shape a maxsim system
    actually ships at scale (coarse shortlist, then the expensive
    interaction score only on survivors): stage 1 is the
    PER-SUB-VECTOR multiprobe sign-LSH candidate set
    (_subvector_candidates — each sub-space bucketed independently,
    any query sub-vector matching any candidate sub-vector, the
    late-interaction analogue of multiprobe); stage 2 computes the
    ColBERT maxsim score ONLY for candidate pairs and ranks top-k per
    probe.

    Scale shape: the exhaustive sim_maxsim_multivector streams every
    candidate row past every probe; here the interaction work is
    bounded by the LSH candidate count (bucket occupancy x probes,
    tuned by the index's bit width), the candidate table carries
    (long, long) ids through the shuffle, and sub-vector structs are
    fetched by key — probes broadcast, candidates hash-join. The
    maxsim expression and rounding are the shared kernel, so stage-2
    scores are bit-identical to the exhaustive path's for the same
    pair. Recall vs the exhaustive top-k measured 0.96 at sf0.01
    (pinned >= 0.9 in tests/test_similarity.py) — the r07 full-vector
    shortlist recalled only 0.52 because full-vector cosine is a weak
    proxy for per-sub-vector alignment."""
    return maxsim_rerank_plan(spark, sf_dir)


def maxsim_rerank_plan(spark: SparkSession, sf_dir: str,
                       n_bits: int = SIGN_BITS) -> DataFrame:
    """The rerank plan with the index bit width exposed: the
    registered query runs the fixture-scale default; the 1M-vector
    corpus leg runs the identical plan at n_bits=16 (finer buckets
    for a bigger corpus — the standard index-tuning knob), so the
    scale evidence exercises the very operator users call."""
    emb = load_table(spark, sf_dir, "embeddings")
    cand = _subvector_candidates(emb, n_bits)
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"),
        _subvecs(F.col("embedding")).alias("q_subs"),
    )
    cs = emb.select(
        F.col("vec_id").alias("c_id"),
        _subvecs(F.col("embedding")).alias("c_subs"),
    )
    score = _maxsim_score(F.col("q_subs"), F.col("c_subs"))
    pairs = (
        cand.join(F.broadcast(qs), "q_id")
        .join(cs, "c_id")
        .select("q_id", "c_id", score.alias("maxsim"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("maxsim").desc(), F.col("c_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "c_id", "maxsim")
    )


SIM_TAU = 0.4  # threshold-pair cosine cutoff

# Per-bucket bound on the sign-LSH ALL-PAIRS enumeration — the
# embedding twin of dedup's LSH_BUCKET_CAP / SEM_CELL_CAP (round 10,
# completing the audit VERDICT r09 #3 started: every pair-enumeration
# path in the engine is now bucket-bounded). A mass-duplicated corpus
# (k near-identical embeddings sharing one sign pattern) would emit
# k^2 pairs from a single task; above the cap the enumeration
# switches to pairs touching the bucket's two LOWEST-id members —
# O(2k), and keep-lowest-id dedup semantics are unchanged for the
# mass-duplication case that triggers it (the lowest id drops every
# near-identical later member). Fixture buckets top out at 46
# (sf0.1), so the cap is inert on every externally hashed plan
# (pinned in tests); sign_bucket_stats() surfaces over-cap buckets
# and the oracle sweep skips with a documented reason when one
# exists. Organic (non-adversarial) growth is handled by widening
# SIGN_BITS with corpus size, not by the cap.
SIGN_BUCKET_CAP = 512


def _sign_bucket_candidates(emb: DataFrame) -> DataFrame:
    """Bounded within-bucket candidate relation from a (vec_id,
    embedding, bucket) frame: rows (bucket, vec_a, ea, na, vec_b, eb,
    nb) with vec_a < vec_b, every unordered within-bucket pair exactly
    once for buckets <= SIGN_BUCKET_CAP members; over-cap buckets
    contribute only their two lowest-id members on the a-side (the
    shared star fallback, operators/starcap.py). na/nb are the
    per-row norm_of() values so verifiers score with cosine_pre."""
    from adcirctime2cogs_spark.operators.starcap import bounded_star_pairs

    pairs = bounded_star_pairs(
        emb.withColumn("_n", norm_of(F.col("embedding"))),
        "bucket", ["vec_id"], SIGN_BUCKET_CAP,
        id_col="vec_id", payload_cols=("embedding", "_n"),
        family="sign_bucket",
    )
    return pairs.select(
        "bucket",
        F.col("vec_id_a").alias("vec_a"),
        F.col("embedding_a").alias("ea"),
        F.col("_n_a").alias("na"),
        F.col("vec_id_b").alias("vec_b"),
        F.col("embedding_b").alias("eb"),
        F.col("_n_b").alias("nb"),
    )


def sign_bucket_stats(spark: SparkSession, sf_dir: str) -> dict:
    """Operational stats for the sign-LSH bucket distribution feeding
    sim_threshold_pairs / dedup_embedding_cosine — the embedding twin
    of lsh_bucket_stats / sem_cell_stats (shared formula,
    operators/starcap.py)."""
    from adcirctime2cogs_spark.operators.starcap import star_group_stats

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", _sign_bucket(F.col("embedding"))
    )
    sizes = emb.groupBy("bucket").agg(F.count("*").alias("cn"))
    g = star_group_stats(sizes, SIGN_BUCKET_CAP)
    return {
        "n_buckets": g["n_groups"],
        "n_over_cap": g["n_over_cap"],
        "max_bucket": g["max_group"],
        "pairs_dropped_to_star": g["pairs_dropped_to_star"],
        "bucket_cap": g["cap"],
    }


@_register(
    "sim_threshold_pairs",
    f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_SIGN_SQL_TMPL.format(e="embedding")} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
           round({_COS_SQL.format(a="a.embedding", b="c.embedding")}, 4) AS cos_sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE round({_COS_SQL.format(a="a.embedding", b="c.embedding")}, 4) >= {SIM_TAU}
    """,
)
def sim_threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similar-pair mining at cosine >= 0.4 (embedding near-dup
    detection), sign-bucket blocked: candidate pairs come from an
    equi-join on the sign-LSH bucket key, exact cosine verifies
    candidates only. Sub-quadratic — comparisons scale with bucket
    occupancy, not n^2, the same 100TB shape as dedup_embedding_cosine.
    The unblocked all-pairs form lives on as sim_threshold_pairs_exact
    (test-only recall oracle). Candidates come from the
    SIGN_BUCKET_CAP-bounded relation (_sign_bucket_candidates), so a
    mass-duplicated bucket emits O(2k) star pairs, never k^2."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", _sign_bucket(F.col("embedding"))
    )
    cos = r4(cosine_pre(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")))
    # the fold appears in both the filter and the projection, but only
    # SURVIVORS re-evaluate it in the project (the filter rejects the
    # rest after one fold), and a withColumn restructure optimizes to
    # the identical plan (verified: Catalyst pushes the predicate back
    # through the project) — single evaluation would need a
    # pipeline-breaking barrier costing more than the S extra folds
    return (
        _sign_bucket_candidates(emb)
        .filter(cos >= SIM_TAU)
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
    )


def sim_threshold_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine >= 0.4 — the quadratic exactness oracle for
    sim_threshold_pairs' recall. Test-only (not registered): a BNLJ
    self-join dies at 100x scale, so the registered query is the
    blocked variant above."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    cos = r4(cosine(F.col("ea"), F.col("eb")))
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= SIM_TAU)
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
    )


CENT_MOD = 67  # centroid rule: vec_id % 67 == 1 → nlist ≈ n/67 cells
# Each query scans its 4 nearest cells. nlist ≈ n/67 grows with the
# data, so nprobe=4 stays sub-linear at scale; measured recall@5 at
# sf0.01: nprobe 3 → 0.64, 4 → 0.80, 5 → 0.84 (floor pinned at 0.6).
N_PROBE = 4

_IVF_SQL = f"""
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
      SELECT vec_id AS c_id, embedding AS c_emb, cent_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cs DESC, cent_id) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT vec_id AS q_id, embedding AS q_emb, cent_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cs DESC, cent_id) AS rn
        FROM scored WHERE vec_id < {N_QUERY_VECS}
      ) WHERE rn <= {N_PROBE}
    ),
    pairs AS (
      SELECT p.q_id, a.c_id,
             round({_COS_SQL.format(a="p.q_emb", b="a.c_emb")}, 4) AS cos_sim
      FROM probe p JOIN assign a ON p.cell = a.cell
      WHERE p.q_id != a.c_id
    )
    SELECT q_id, c_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos_sim DESC, c_id) AS rn
      FROM pairs
    ) WHERE rn <= {TOP_K}
    """


def _ivf_scored(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, cent_id, cs): every vector scored against
    the broadcast centroid table (vec_id % CENT_MOD == 1) by rounded
    cosine — THE assignment rule, written once so the materialized
    inverted file, the probe-side assignment, and the oracle CTEs
    cannot drift apart."""
    cent = emb.filter(F.col("vec_id") % CENT_MOD == 1).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cent_emb"),
        norm_of(F.col("embedding")).alias("cent_n"),
    )
    return (
        emb.withColumn("_n", norm_of(F.col("embedding")))
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id", "embedding", "cent_id",
            r4(
                cosine_pre(
                    F.col("embedding"), F.col("cent_emb"),
                    F.col("_n"), F.col("cent_n"),
                )
            ).alias("cs"),
        )
    )


def _ivf_cells_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF coarse-quantizer assignment (vec_id -> cell)
    MATERIALIZED once per (sf_dir, data version) via
    tables.layout_once — the inverted-file index a production tier
    builds offline. Assignment is the registered rule verbatim:
    broadcast centroids (vec_id % CENT_MOD == 1), per-vector top-1 by
    rounded cosine, centroid-id tie-break. Queries join candidates by
    cell key and fetch vectors by id; only the one-time build scans
    the corpus against the centroid table."""
    from adcirctime2cogs_spark.tables import layout_once

    def build(out_path: str) -> None:
        scored = _ivf_scored(load_table(spark, sf_dir, "embeddings"))
        w = W.partitionBy("vec_id").orderBy(F.col("cs").desc(), "cent_id")
        (scored.withColumn("rn", F.row_number().over(w))
         .filter(F.col("rn") == 1)
         .select("vec_id", F.col("cent_id").alias("cell"))
         .write.parquet(out_path))

    path = layout_once(
        spark, sf_dir, "ivf_cells", build,
        code_ver=f"ivf-top1-r4cos-v1:{CENT_MOD}",
    )
    return spark.read.parquet(path)


@_register("sim_topk_ivf", _IVF_SQL)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: an inverted-file index with data-derived coarse
    centroids (deterministic rule vec_id % 67 == 1, so nlist grows with
    n), nprobe=4 (N_PROBE), exact cosine re-rank inside the probed cells.

    The scale shape: centroids broadcast (nlist rows), so assignment is
    a map-side score + per-vector top-1 — each vector is compared to
    nlist centroids instead of n-1 vectors, and the candidate join is an
    equi-join on cell id. Complements sim_topk_bucketed: distance-based
    cells adapt to the data distribution where sign-LSH cells are fixed
    axis-aligned half-spaces."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = _ivf_scored(emb)
    w_assign = W.partitionBy("vec_id").orderBy(F.col("cs").desc(), "cent_id")
    # database-side assignment comes from the materialized inverted
    # file (built once per data version); the embedding rides along by
    # id join, never re-scored
    assign = (
        _ivf_cells_table(spark, sf_dir)
        .join(emb, "vec_id")
        .select(F.col("vec_id").alias("c_id"),
                F.col("embedding").alias("c_emb"),
                norm_of(F.col("embedding")).alias("c_n"),
                F.col("cell"))
    )
    probe = (
        scored.filter(F.col("vec_id") < N_QUERY_VECS)
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") <= N_PROBE)
        .select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"),
            norm_of(F.col("embedding")).alias("q_n"),
            F.col("cent_id").alias("cell"),
        )
    )
    pairs = (
        F.broadcast(probe)
        .join(assign, "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id", "c_id",
            r4(
                cosine_pre(
                    F.col("q_emb"), F.col("c_emb"),
                    F.col("q_n"), F.col("c_n"),
                )
            ).alias("cos_sim"),
        )
    )
    w_rank = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "c_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "c_id", "cos_sim")
    )


KNN_K = 3  # neighbors per vector in the k-NN self-join


@_register(
    "sim_knn_join",
    f"""
    WITH cb AS (
      SELECT vec_id, tbl, {_MULTITABLE_BUCKET_CASE} AS bucket
      FROM embeddings, (SELECT unnest([{_TBL_LIST}]) AS tbl) t
    ),
    ap AS (
      SELECT vec_id, tbl,
             unnest([{_FLIP_LIST}]) AS bucket
      FROM cb
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      FROM ap a JOIN cb b ON a.tbl = b.tbl AND a.bucket = b.bucket
      WHERE a.vec_id != b.vec_id
    ),
    pairs AS (
      SELECT c.a_id, c.b_id,
             round({_COS_SQL.format(a="ea.embedding", b="eb.embedding")}, 4) AS cos_sim
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.a_id
      JOIN embeddings eb ON eb.vec_id = c.b_id
    )
    SELECT a_id, b_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY a_id
                                   ORDER BY cos_sim DESC, b_id) AS rn
      FROM pairs
    ) WHERE rn <= {KNN_K}
    """,
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN self-join: EVERY vector gets its approximate top-k
    neighbors (not just a probe set) — the workhorse for embedding
    clustering, mutual-kNN graph building, and semantic dedup sweeps.

    Same multi-table multiprobe sign-LSH blocking as sim_topk_bucketed,
    applied to every vector as the probe side: side A expands to the
    L x (1+SIGN_BITS) one-bit-flip buckets, side B stays at L rows per
    vector, the (tbl, bucket) join touches only bucket collisions,
    candidates dedupe as (long, long) id pairs, embeddings join back
    by key once per pair, and one window picks top-KNN_K per source.
    Sub-quadratic end-to-end — comparisons scale with L x probes x
    bucket occupancy, not n^2, and no array ever rides the fan-out.
    Vectors whose probed buckets hold no collision simply emit no rows
    (the honest ANN contract; raise L_TABLES for higher recall)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = _multitable_buckets(emb, "a_id")
    flips = F.array(*[F.lit(0)] + [F.lit(1 << i) for i in range(SIGN_BITS)])
    ap = cb.select(
        "a_id",
        "tbl",
        F.explode(
            F.transform(flips, lambda fl: F.col("bucket").bitwiseXOR(fl))
        ).alias("bucket"),
    )
    cbb = cb.select(F.col("a_id").alias("b_id"), "tbl", "bucket")
    cand = (
        ap.join(cbb, ["tbl", "bucket"])
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("ea"),
                    norm_of(F.col("embedding")).alias("na"))
    eb = emb.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("eb"),
                    norm_of(F.col("embedding")).alias("nb"))
    pairs = (
        cand.join(ea, "a_id")
        .join(eb, "b_id")
        .select(
            "a_id", "b_id",
            r4(
                cosine_pre(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb"))
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("a_id").orderBy(F.col("cos_sim").desc(), "b_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_K)
        .select("a_id", "b_id", "cos_sim")
    )


@_register("sim_ml_brp_lsh")  # rows-only: Spark's hyperplanes are seed-specific
def sim_ml_brp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pyspark.ml BucketedRandomProjectionLSH integration (euclidean
    ANN): the library scale path next to the hand-rolled sign-LSH.
    Values depend on Spark's seeded hyperplanes -> rows-only check."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        array_to_vector(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0,
        numHashTables=3, seed=42,
    )
    model = lsh.fit(emb)
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    pairs = model.approxSimilarityJoin(q, emb, 8.0, distCol="dist")
    return (
        pairs.filter(F.col("datasetA.vec_id") != F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("q_id"),
            F.col("datasetB.vec_id").alias("c_id"),
            r4("dist").alias("euclidean_dist"),
        )
    )


@_register(
    "vec_centroid_per_label",
    """
    WITH d AS (
      SELECT label,
             unnest(embedding) AS e,
             unnest(range(len(embedding))) AS dim
      FROM embeddings
    )
    SELECT label, dim, round(avg(e), 4) AS c
    FROM d GROUP BY 1, 2
    """,
)
def vec_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid — the vector AVG that trains IVF
    coarse quantizers and powers cluster-based dedup.

    posexplode flattens (label, dim, component) so the mean is a plain
    hash agg partitioned on (label, dim): no vector UDAF, no driver
    collect, and at 100 TB the shuffle carries one double per
    (label, dim) partial, not the embeddings."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label", F.posexplode("embedding").alias("dim", "e")
    )
    return flat.groupBy("label", F.col("dim").cast("long").alias("dim")).agg(
        r4(F.avg("e")).alias("c")
    )


_QUANT_SQL = """
WITH s AS (
  SELECT vec_id,
         greatest(list_max(list_transform(embedding,
                  v -> abs(CAST(v AS DOUBLE)))) / 127.0, 1e-12) AS scale,
         embedding
  FROM embeddings
),
t AS (
  SELECT vec_id, scale, embedding,
         list_transform(embedding,
           v -> greatest(least(CAST(floor(CAST(v AS DOUBLE) / scale + 0.5)
                               AS BIGINT), 127), -127)) AS qv
  FROM s
)
SELECT vec_id, round(scale, 4) AS scale,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_sum(list_transform(qv, q -> abs(q))) AS BIGINT) AS q_l1,
       round(sqrt(
         list_sum(list_transform(range(1, len(embedding) + 1),
           i -> pow(CAST(embedding[i] AS DOUBLE) - qv[i] * scale, 2)))
         / nullif(list_sum(list_transform(embedding,
             v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), 0)
       ), 4) AS rel_err
FROM t
"""


@_register("vec_quantize_int8", _QUANT_SQL)
def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the 4x-compression step
    a 100 TB embedding store applies before ANN serving: scale =
    absmax/127, q = clamp(floor(x/scale + 0.5)), plus the relative L2
    reconstruction error as the quality audit.

    floor(x+0.5) instead of round() pins the half-way convention to the
    same result in every engine. The whole computation is array folds
    inside one narrow projection: zero shuffles, zero explode blowup —
    at 64 dims an explode-and-regroup shape would shuffle 64x the rows
    just to re-sum what the fold computes in place."""
    emb = load_table(spark, sf_dir, "embeddings")
    xd = lambda v: v.cast("double")
    absmax = F.array_max(F.transform("embedding", lambda v: F.abs(xd(v))))
    # the raw scale is named s_raw: the output column `scale` below is
    # the ROUNDED display value, and Spark's lateral-column-alias
    # resolution would silently rebind a same-named reference in the
    # rel_err lambda to the rounded alias, inflating the error
    s = emb.select(
        "vec_id",
        "embedding",
        F.greatest(absmax / 127.0, F.lit(1e-12)).alias("s_raw"),
    )
    qv = F.transform(
        "embedding",
        lambda v: F.greatest(
            F.least(
                F.floor(xd(v) / F.col("s_raw") + 0.5), F.lit(127).cast("bigint")
            ),
            F.lit(-127).cast("bigint"),
        ),
    )
    t = s.select("vec_id", "s_raw", "embedding", qv.alias("qv"))
    err_terms = F.zip_with(
        "embedding", "qv", lambda v, q: F.pow(xd(v) - q * F.col("s_raw"), 2)
    )
    err = F.aggregate(err_terms, F.lit(0.0), lambda a, x: a + x)
    nrm = F.aggregate(
        "embedding", F.lit(0.0), lambda a, v: a + xd(v) * xd(v)
    )
    return t.select(
        "vec_id",
        r4("s_raw").alias("scale"),
        F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, q: a + q).alias(
            "q_sum"
        ),
        F.aggregate(
            "qv", F.lit(0).cast("bigint"), lambda a, q: a + F.abs(q)
        ).alias("q_l1"),
        r4(F.when(nrm > 0, F.sqrt(err / nrm))).alias("rel_err"),
    )


@_register(
    "vec_covariance_matrix",
    f"""
    WITH x AS (
      SELECT vec_id, CAST(i AS BIGINT) AS i,
             CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS v
      FROM embeddings, unnest(range(1, {EMB_DIM} + 1)) AS t(i)
    ),
    m AS (SELECT i, avg(v) AS mu FROM x GROUP BY i),
    p AS (
      SELECT a.i AS i, b.i AS j, avg(a.v * b.v) AS exy
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i
    )
    SELECT p.i, p.j, round(p.exy - ma.mu * mb.mu, 4) AS cov
    FROM p JOIN m ma ON ma.i = p.i JOIN m mb ON mb.i = p.j
    """,
)
def vec_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact population covariance matrix of the embedding columns
    (upper triangle, d(d+1)/2 rows) — the whitening/PCA-prep primitive.

    The d²/2 product terms explode from each vector IN ONE PASS (nested
    array transform + flatten, all codegen — no self-join, so the
    embeddings table is read and shuffled once) and partial-aggregate
    map-side into the (i, j) cells; the per-dimension means ride the
    same scan. The d²-cell fan-out is inherent to exact covariance (any
    algorithm maintains d² accumulators); here it costs one hash agg
    keyed on (i, j). The oracle computes identical products via a
    per-vector index self-join — same math, join-shaped for SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    pair_expr = (
        "flatten(transform(e, (x, i) -> "
        "transform(slice(e, i + 1, size(e) - i), (y, j) -> "
        "struct(i + 1 AS i, i + j + 1 AS j, x * y AS v))))"
    )
    pairs = e.select(F.explode(F.expr(pair_expr)).alias("p")).select(
        F.col("p.i").alias("i"), F.col("p.j").alias("j"), F.col("p.v").alias("v")
    )
    exy = pairs.groupBy("i", "j").agg(F.avg("v").alias("exy"))
    means = (
        e.select(F.posexplode("e").alias("i0", "v"))
        .groupBy((F.col("i0") + 1).alias("i"))
        .agg(F.avg("v").alias("mu"))
    )
    ma = means.select(F.col("i").alias("mi"), F.col("mu").alias("mua"))
    mb = means.select(F.col("i").alias("mj"), F.col("mu").alias("mub"))
    return (
        exy.join(F.broadcast(ma), exy.i == ma.mi)
        .join(F.broadcast(mb), exy.j == mb.mj)
        .select(
            "i", "j",
            r4(F.col("exy") - F.col("mua") * F.col("mub")).alias("cov"),
        )
    )


PCA_K = 8


@_register("vec_pca_project")  # rows-only: eigvecs aren't SQL-expressible
def vec_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection onto the top-k principal components — the
    dimensionality-reduction step before clustering/ANN at scale.

    The pattern that matters at 100 TB: the d×d covariance (from
    vec_covariance_matrix's distributed pass) is TINY, so it collects
    to the driver, numpy eigendecomposes it there (d³ flops on 64×64 —
    microseconds), and only the d×k component matrix broadcasts back
    into a codegen array-fold projection. The corpus is scanned twice
    total (covariance pass + projection pass) and never leaves the
    executors. Rows-only: eigenvectors have no portable SQL oracle;
    tests/test_similarity.py pins the PCA invariants instead (variance
    ordering, cross-component decorrelation)."""
    import numpy as np

    cov_rows = vec_covariance_matrix(spark, sf_dir).collect()
    d = max(r.i for r in cov_rows)
    cov = np.zeros((d, d))
    for r in cov_rows:
        cov[r.i - 1, r.j - 1] = cov[r.j - 1, r.i - 1] = r.cov
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:PCA_K]
    comps = evecs[:, order]  # d x k
    # sign convention: largest-|.| coordinate positive (deterministic)
    for c in range(comps.shape[1]):
        jmax = int(np.abs(comps[:, c]).argmax())
        if comps[jmax, c] < 0:
            comps[:, c] = -comps[:, c]
    comp_cols = [
        F.array(*[F.lit(float(comps[i, c])) for i in range(d)])
        for c in range(comps.shape[1])
    ]
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    dot = lambda vec: F.aggregate(
        F.zip_with(F.col("e"), vec, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select(
        "vec_id",
        *[r4(dot(comp_cols[c])).alias(f"pc{c}") for c in range(len(comp_cols))],
    )


MRL_DIM = 16  # Matryoshka truncation prefix length

_SLICE_IP_SQL = (
    "list_inner_product("
    "list_transform(embedding[1:{d}], x -> CAST(x AS DOUBLE)),"
    "list_transform(embedding[1:{d}], x -> CAST(x AS DOUBLE)))"
)


@_register(
    "vec_matryoshka_truncate",
    f"""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt({_SLICE_IP_SQL.format(d=MRL_DIM)}) AS norm16
      FROM embeddings
    )
    SELECT vec_id,
           round(norm16, 4) AS norm16,
           round(CAST(embedding[1] AS DOUBLE) / nullif(norm16, 0), 4) AS c0,
           round(CAST(embedding[2] AS DOUBLE) / nullif(norm16, 0), 4) AS c1,
           round(CAST(embedding[3] AS DOUBLE) / nullif(norm16, 0), 4) AS c2,
           round(CAST(embedding[4] AS DOUBLE) / nullif(norm16, 0), 4) AS c3
    FROM n
    """,
)
def vec_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension truncation: keep the first MRL_DIM
    dims and L2-renormalize — the modern embedding-shrink trade (MRL
    models front-load information, so prefix truncation + renorm
    preserves ranking at a fraction of the storage/compute). Row-local
    array math, zero shuffle; at 100 TB this is the map stage you run
    before re-indexing a cheaper ANN tier. Zero-norm prefixes yield
    null components via nullif (no Inf/NaN leaves the operator)."""
    emb = load_table(spark, sf_dir, "embeddings")
    head = F.slice(F.col("embedding"), 1, MRL_DIM)
    norm16 = F.sqrt(dot(head, head))
    nz = F.nullif(norm16, F.lit(0.0))
    return emb.select(
        "vec_id",
        r4(norm16).alias("norm16"),
        *[
            r4(F.element_at("embedding", i + 1).cast("double") / nz).alias(
                f"c{i}"
            )
            for i in range(4)
        ],
    )


KM_K = 8       # clusters
KM_ITERS = 3   # fixed Lloyd iterations (deterministic, no convergence RNG)
KM_DIM = EMB_DIM  # oracle dimensionality rides the single source
# (review r11: a hand-duplicated 64 would silently NULL-pad the
# oracle's per-dim distance terms if the fixture changed dimension)


def _kmeans_oracle_sql() -> str:
    """DuckDB oracle for vec_kmeans_lloyd: the SAME deterministic Lloyd
    run, UNROLLED — KM_ITERS assignment/update rounds as generated CTEs.

    Float-exactness notes (why the hash can match at all):
    - squared distances fold dimension-by-dimension in index order on
      both engines (Spark's F.aggregate left-fold == an explicit
      left-associated 64-term sum, since 0.0 + x1 == x1 exactly);
    - argmin tie-breaks to the LOWEST cluster index on both sides
      (array_position-of-min == row_number ORDER BY d, cluster);
    - centroid means may differ by fold order (engine-parallel avg),
      but the fixture's assignment margins are ~1e6 ulp wide, so a
      1-ulp mean wiggle cannot flip any assignment (pinned by
      tests/test_similarity.py's margin floor).
    """
    dim_terms = " + ".join(
        f"(emb[{i}]-cent[{i}])*(emb[{i}]-cent[{i}])"
        for i in range(1, KM_DIM + 1)
    )
    parts = [
        """WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
         emb AS cent
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT %d)
)""" % KM_K
    ]
    for j in range(KM_ITERS + 1):
        parts.append(f"""d{j} AS (
  SELECT e.vec_id, e.emb, c.cluster, {dim_terms} AS d
  FROM e CROSS JOIN c{j} c
),
a{j} AS (
  SELECT vec_id, emb, cluster, d FROM (
    SELECT vec_id, emb, cluster, d,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
    FROM d{j}
  ) WHERE rn = 1
)""")
        if j < KM_ITERS:
            parts.append(f"""m{j} AS (
  SELECT cluster, i AS dim, avg(emb[i]) AS m
  FROM a{j} CROSS JOIN range(1, {KM_DIM + 1}) t(i)
  GROUP BY cluster, i
),
c{j + 1} AS (
  SELECT p.cluster, COALESCE(n.cent, p.cent) AS cent
  FROM c{j} p LEFT JOIN (
    SELECT cluster, list(m ORDER BY dim) AS cent FROM m{j} GROUP BY cluster
  ) n USING (cluster)
)""")
    final = (
        f"\nSELECT vec_id, cluster, round(d, 4) AS dist FROM a{KM_ITERS}"
    )
    return ",\n".join(parts) + final


def _sqdist(a: Column, b: Column) -> Column:
    """Squared L2 distance, JVM-side (zip_with + aggregate)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@_register("vec_kmeans_lloyd", _kmeans_oracle_sql())
def vec_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding column — the iterative-ML
    workload (beyond pagerank's graph loop): KM_ITERS assignment/
    update rounds with deterministic init (the KM_K lowest vec_ids),
    so the result is reproducible with no RNG state.

    The distributed shape per iteration:
    - centroids ship to executors as LITERALS (k×dim doubles baked
      into the plan — smaller than a broadcast join and kept inside
      whole-stage codegen), so assignment is a row-local argmin over
      k squared-L2 distances: a narrow map stage, no join;
    - the update is posexplode → groupBy (cluster, dim) → avg with
      map-side partial aggregation: each task emits at most k×dim
      partial sums no matter how many vectors it holds, and the
      driver collects exactly k×dim finished means (the same
      tree-reduce contract as MLlib's KMeans and the repo's PCA
      driver-eigh — scale-invariant driver traffic);
    - empty clusters keep their previous centroid.

    Returns the final assignment (vec_id, cluster, dist) computed
    lazily — per-iteration driver traffic is k×dim rows, never the
    corpus. The trained centroids are kept in the session memo per
    (application, sf_dir, data version) so registry-wide plan sweeps
    (plan_audit, the cartesian gate) and repeat invocations pay the
    iteration jobs once. tests/test_similarity.py pins numpy
    equivalence."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = memo.get(spark, "similarity.kmeans_centroids", sf_dir,
                     lambda: _lloyd_centroids(emb))
    return _km_assign(emb, cents).select(
        "vec_id", "cluster", r4(F.col("dist")).alias("dist")
    )


def _km_assign(df: DataFrame, cents: dict[int, list[float]]) -> DataFrame:
    """(vec_id, embedding, cluster, dist): the row-local argmin over
    KM_K squared-L2 distances to literal centroids."""
    dists = F.array(
        *[_sqdist(F.col("embedding"), F.array(*[F.lit(x) for x in cents[i]]))
          for i in range(KM_K)]
    )
    return df.select(
        "vec_id",
        "embedding",
        (F.array_position(dists, F.array_min(dists)) - 1)
        .cast("int")
        .alias("cluster"),
        F.array_min(dists).alias("dist"),
    )


def _lloyd_centroids(emb: DataFrame) -> dict[int, list[float]]:
    """KM_ITERS Lloyd rounds from the KM_K lowest vec_ids."""
    # the KM_K LOWEST ids, not `vec_id < KM_K`: identical on the
    # dense-id fixture, but also correct on sparse-id tables (the
    # same convention as _pq_anchors; review r11 — the filter form
    # produced a short/empty seed dict and KeyError'd downstream)
    init = emb.orderBy("vec_id").limit(KM_K).collect()
    if len(init) < KM_K:
        raise ValueError(
            f"k-means needs >= {KM_K} embeddings, got {len(init)}"
        )
    cents: dict[int, list[float]] = {
        i: [float(x) for x in row.embedding] for i, row in enumerate(init)
    }

    for _ in range(KM_ITERS):
        means = (
            _km_assign(emb, cents)
            .select("cluster", F.posexplode("embedding").alias("dim", "v"))
            .groupBy("cluster", "dim")
            .agg(F.avg(F.col("v").cast("double")).alias("m"))
            .collect()
        )
        new: dict[int, list[float]] = {}
        for r in means:
            new.setdefault(r.cluster, [0.0] * len(cents[0]))[r.dim] = r.m
        cents = {i: new.get(i, cents[i]) for i in range(KM_K)}
    return cents


# ----------------------------------------------- product quantization
PQ_M = 4          # subspaces
PQ_SUB = EMB_DIM // PQ_M  # dims per subspace (16)
PQ_K = 16         # centroids per subspace -> 4-bit codes, 64x smaller


def _pq_sub_terms(emb: str, cent: str, m: int) -> str:
    """Left-associated squared-distance sum over subspace m's dims —
    written out so DuckDB folds in exactly numpy/Spark's index order."""
    return " + ".join(
        f"({emb}[{i}]-{cent}[{i}])*({emb}[{i}]-{cent}[{i}])"
        for i in range(m * PQ_SUB + 1, (m + 1) * PQ_SUB + 1)
    )


def _pq_ctes() -> str:
    """The CTE prefix BOTH PQ oracles share (vectors, anchors,
    per-subspace distances, per-subspace argmin codes) — one builder
    so the encode and ADC SQL can never splice apart."""
    subs = [_pq_sub_terms("e.emb", "a.cent", m) for m in range(PQ_M)]
    d_cols = ", ".join(f"{t} AS d{m}" for m, t in enumerate(subs))
    pick = "\n".join(
        f"""p{m} AS (
  SELECT vec_id, j AS c{m}, d{m} AS e{m} FROM (
    SELECT vec_id, j, d{m},
           row_number() OVER (PARTITION BY vec_id ORDER BY d{m}, j) AS rn
    FROM d
  ) WHERE rn = 1
),""" for m in range(PQ_M)
    )
    joins = " ".join(f"JOIN p{m} USING (vec_id)" for m in range(1, PQ_M))
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    a AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j,
             emb AS cent
      FROM e WHERE vec_id < {PQ_K}
    ),
    d AS (
      SELECT e.vec_id, a.j, {d_cols} FROM e CROSS JOIN a
    ),
    {pick}
    enc AS (SELECT * FROM p0 {joins})"""


def _pq_encode_sql() -> str:
    return f"""{_pq_ctes()}
    SELECT vec_id, c0, c1, c2, c3,
           round(e0 + e1 + e2 + e3, 3) AS qerr
    FROM enc
    """


def _pq_anchors(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """The PQ_K lowest vec_ids' embeddings — the deterministic
    codebook, stored in the session memo under sf_dir so the encode
    query and the ADC scan don't each pay a collect job per plan
    construction."""
    return memo.get(spark, "similarity.pq_anchors", sf_dir,
                    lambda: _build_pq_anchors(spark, sf_dir))


def _build_pq_anchors(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    emb = load_table(spark, sf_dir, "embeddings")
    # the PQ_K LOWEST ids, not `vec_id < PQ_K`: identical on the
    # dense-id fixture the oracle states (`WHERE vec_id < 16`), but
    # also correct on sparse-id tables like the corpus pipeline's
    # filtered survivors, where ids 0..15 need not all exist
    rows = (
        emb.orderBy("vec_id")
        .limit(PQ_K)
        .select("embedding")
        .collect()
    )
    anchors = [[float(x) for x in r.embedding] for r in rows]
    if len(anchors) < PQ_K:
        raise ValueError(
            f"PQ codebook needs >= {PQ_K} embeddings, got {len(anchors)}"
        )
    return anchors


def _pq_sub_dist(emb: Column, anchor: list[float], m: int) -> Column:
    sub = F.slice(emb.cast("array<double>"), m * PQ_SUB + 1, PQ_SUB)
    lit = F.array(*[F.lit(float(v)) for v in
                    anchor[m * PQ_SUB:(m + 1) * PQ_SUB]])
    return _sqdist(sub, lit)


def _pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, c0..c3, e0..e3): per-subspace nearest-anchor code and
    its squared distance. Anchors = the PQ_K lowest vec_ids' own
    subvectors — the same deterministic-init convention as
    vec_kmeans_lloyd (a production codebook would Lloyd-train each
    subspace; assignment and ADC are identical either way)."""
    anchors = _pq_anchors(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    out = emb.select("vec_id", "embedding")
    for m in range(PQ_M):
        darr = F.array(*[
            _pq_sub_dist(F.col("embedding"), anchors[j], m)
            for j in range(PQ_K)
        ])
        out = out.withColumn(f"_d{m}", darr)
    for m in range(PQ_M):
        # first index of the min == lowest-j tie-break, matching SQL's
        # row_number ORDER BY d, j
        out = out.withColumn(
            f"c{m}",
            (F.array_position(F.col(f"_d{m}"),
                              F.array_min(F.col(f"_d{m}"))) - 1).cast("int"),
        ).withColumn(
            f"e{m}", F.element_at(F.col(f"_d{m}"), F.col(f"c{m}") + 1)
        )
    return out.select(
        "vec_id", "embedding",
        *[F.col(f"c{m}") for m in range(PQ_M)],
        *[F.col(f"e{m}") for m in range(PQ_M)],
    )


def _pq_codes_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ code table MATERIALIZED once per (sf_dir, data version)
    via tables.layout_once — the index-build artifact a production
    IVF-PQ tier stores (codes WITHOUT the float vectors; exact rerank
    joins the original embedding store by id). Before this, every PQ
    consumer recomputed the 4x16 subspace-distance encode inline, so
    the composed sim_topk_ivfpq plan scanned the corpus 8 times; now
    the encode is paid once at index build and every query scans the
    64x-smaller code table."""
    from adcirctime2cogs_spark.tables import layout_once

    from adcirctime2cogs_spark.tables import spread_scan

    path = layout_once(
        spark, sf_dir, "pq_codes",
        lambda p: _pq_codes(spark, sf_dir)
        .drop("embedding").write.parquet(p),
        code_ver=f"pq-lowid-anchors-v1:{PQ_M}:{PQ_K}:{PQ_SUB}",
    )
    # the ADC scan's per-(code, probe) lookup sum is row-local, so the
    # under-split artifact scan spreads safely (tables.spread_scan)
    return spread_scan(spark, spark.read.parquet(path), path)


@_register("vec_pq_encode", _pq_encode_sql())
def vec_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode: split the 64-dim embedding into
    4 subspaces of 16 dims, assign each subvector to its nearest
    codebook centroid, emit the 4-symbol code (4 x 4 bits — 64x
    smaller than float32) plus the total quantization error.

    Scale shape: the codebook is tiny driver state (16 anchors)
    folded into literal columns, so the ENCODE ITSELF is a map-only
    zero-shuffle pass — and it runs ONCE per data version: the first
    call materializes the code table through tables.layout_once (the
    index-build job a production tier schedules), and this query —
    like every other PQ consumer — then scans the 64x-smaller
    artifact. The oracle re-derives codes and errors in SQL with the
    same left-folded per-subspace distances and lowest-index
    tie-break."""
    codes = _pq_codes_table(spark, sf_dir)
    qerr = F.col("e0") + F.col("e1") + F.col("e2") + F.col("e3")
    return codes.select(
        "vec_id", "c0", "c1", "c2", "c3",
        rn(qerr, 3).alias("qerr"),  # engine-exact 3dp (review r11)
    )


def _pq_adc_ctes() -> str:
    """The ADC CTE chain (codes + per-probe distance tables + scored
    pairs) shared by the registered ADC top-k and the PQ rerank
    oracles — one builder so the scoring formula cannot desync."""
    subs_q = [_pq_sub_terms("q.emb", "a.cent", m) for m in range(PQ_M)]
    tq_cols = ", ".join(f"{t} AS d{m}" for m, t in enumerate(subs_q))
    return f"""{_pq_ctes()},
    probes AS (SELECT vec_id AS q_id, emb FROM e WHERE vec_id < {N_QUERY_VECS}),
    tq AS (
      SELECT q.q_id, a.j, {tq_cols}
      FROM probes q CROSS JOIN a
    ),
    adc AS (
      SELECT t0.q_id, enc.vec_id AS c_id,
             t0.d0 + t1.d1 + t2.d2 + t3.d3 AS adc
      FROM enc
      JOIN tq t0 ON t0.j = enc.c0
      JOIN tq t1 ON t1.j = enc.c1 AND t1.q_id = t0.q_id
      JOIN tq t2 ON t2.j = enc.c2 AND t2.q_id = t0.q_id
      JOIN tq t3 ON t3.j = enc.c3 AND t3.q_id = t0.q_id
      WHERE enc.vec_id != t0.q_id
    )"""


def _pq_adc_sql() -> str:
    return f"""{_pq_adc_ctes()}
    SELECT q_id, c_id, round(adc, 3) AS adc FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY adc, c_id) AS rn
      FROM adc
    ) WHERE rn <= {TOP_K}
    """


def _pq_probe_tables(emb: DataFrame, anchors) -> DataFrame:
    """(q_id, t0..t3): each probe's PQ_M x PQ_K subspace distance
    tables as array columns — the broadcast side every ADC consumer
    (flat scan, PQ rerank, IVF-PQ) ships. One builder so the table
    formula cannot drift between them."""
    probes = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    for m in range(PQ_M):
        probes = probes.withColumn(
            f"t{m}",
            F.array(*[
                _pq_sub_dist(F.col("q_emb"), anchors[j], m)
                for j in range(PQ_K)
            ]),
        )
    return probes.drop("q_emb")


def _pq_adc_expr() -> Column:
    """The ADC lookup sum, left-to-right — the single definition of
    the compressed distance every consumer aliases."""
    return (
        F.element_at(F.col("t0"), F.col("c0") + 1)
        + F.element_at(F.col("t1"), F.col("c1") + 1)
        + F.element_at(F.col("t2"), F.col("c2") + 1)
        + F.element_at(F.col("t3"), F.col("c3") + 1)
    )


def _pq_exact_rerank(emb: DataFrame, scored: DataFrame) -> DataFrame:
    """Shortlist the top PQ_SHORTLIST (adc, c_id) per probe out of a
    scored (q_id, c_id, adc) table, fetch the survivors' full vectors,
    and exactly cosine-rerank to the final top-k — the shared stage-2
    of sim_topk_pq_rerank and sim_topk_ivfpq."""
    w1 = W.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("c_id"))
    short = (
        scored.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= PQ_SHORTLIST)
        .select("q_id", "c_id")
    )
    qe = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"),
        norm_of(F.col("embedding")).alias("q_n"),
    )
    ce = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"),
        norm_of(F.col("embedding")).alias("c_n"),
    )
    pairs = (
        short.join(F.broadcast(qe), "q_id")
        .join(ce, "c_id")
        .select(
            "q_id", "c_id",
            r4(
                cosine_pre(
                    F.col("q_emb"), F.col("c_emb"),
                    F.col("q_n"), F.col("c_n"),
                )
            ).alias("cos_sim"),
        )
    )
    w2 = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("c_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "c_id", "cos_sim")
    )


def pq_adc_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, c_id, adc) for every (probe, database vector) pair — the
    shared ADC scoring plan: per-probe 4 x 16 distance tables as array
    literals shipped by one broadcast, every database vector scored as
    four element_at lookups summed left-to-right. Used by the
    registered top-k query and the corpus scale leg so the formula
    can't drift between them."""
    anchors = _pq_anchors(spark, sf_dir)
    codes = _pq_codes_table(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    probes = _pq_probe_tables(emb, anchors)
    return (
        codes.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            _pq_adc_expr().alias("adc"),
        )
    )


@_register("sim_topk_pq_adc", _pq_adc_sql())
def sim_topk_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each probe
    precomputes a 4 x 16 table of subspace distances to the codebook,
    and every database vector scores as FOUR table lookups summed —
    never touching its floats. This is the memory-bound scan shape
    (IVF-)PQ indexes run at billion-vector scale: the code table is
    64x smaller than the vectors, the probe tables broadcast, and the
    scan is one map-side crossJoin with a per-probe top-k — no shuffle
    before the final window. Exact parity with the SQL oracle:
    left-folded distances, left-to-right lookup sum, lowest-id
    tie-breaks."""
    scored = pq_adc_scored(spark, sf_dir)
    w = W.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "c_id", rn(F.col("adc"), 3).alias("adc"))
    )


PQ_SHORTLIST = 100  # ADC survivors carried to the exact rerank


def _pq_rerank_tail_sql(adc_src: str) -> str:
    """The shortlist -> exact-rerank -> top-k SQL tail over any scored
    (q_id, c_id, adc) source CTE — shared by the flat PQ rerank and
    IVF-PQ oracles so the tie-breaks and rounding cannot desync."""
    return f""",
    short AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
                                              ORDER BY adc, c_id) AS rn
        FROM {adc_src}
      ) WHERE rn <= {PQ_SHORTLIST}
    ),
    exact AS (
      SELECT s.q_id, s.c_id,
             round({_COS_SQL.format(a="qe.embedding", b="ce.embedding")}, 4)
               AS cos_sim
      FROM short s
      JOIN embeddings qe ON qe.vec_id = s.q_id
      JOIN embeddings ce ON ce.vec_id = s.c_id
    )
    SELECT q_id, c_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos_sim DESC, c_id) AS rn
      FROM exact
    ) WHERE rn <= {TOP_K}
    """


def _pq_rerank_sql() -> str:
    return _pq_adc_ctes() + _pq_rerank_tail_sql("adc")


@_register("sim_topk_pq_rerank", _pq_rerank_sql())
def sim_topk_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production (IVF-)PQ serving shape end-to-end: the ADC scan
    shortlists PQ_SHORTLIST candidates per probe by compressed-domain
    distance (never touching candidate floats), then ONLY the
    survivors are fetched and exactly cosine-reranked for the final
    top-k — compressed scan breadth, exact-precision answers.

    Scale shape: stage 1 is pq_adc_scored's map-side broadcast scan
    (the same shared plan the registered ADC top-k uses) with a
    per-probe top-PQ_SHORTLIST window; stage 2 touches
    N_QUERY_VECS x PQ_SHORTLIST rows — the full-precision vectors are
    read for the shortlist ONLY (a key-fetch join, probes broadcast),
    which is the entire point of PQ at 100 TB: the float corpus
    stays cold. Shortlist membership is deterministic across engines
    (raw-double ADC order, lowest-id ties — the sim_topk_pq_adc
    precedent) and the exact stage reuses the module's cosine and r4
    conventions, so the DuckDB oracle matches hash-exactly. The
    1M-vector corpus leg measures shortlist->exact twin recall on
    this registered query (tools/scale_check.py run_corpus_pq_leg)."""
    scored = pq_adc_scored(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return _pq_exact_rerank(emb, scored)


def _ivfpq_sql() -> str:
    """IVF-PQ oracle: the PQ ADC CTE chain restricted to IVF-probed
    cells (the sim_topk_ivf coarse quantizer verbatim), shortlisted,
    then exactly reranked — the composition of the two registered
    index oracles with a semi-join in the middle."""
    return f"""{_pq_adc_ctes()},
    cent AS (
      SELECT vec_id AS cent_id, embedding AS cent_emb
      FROM embeddings WHERE vec_id % {CENT_MOD} = 1
    ),
    cscored AS (
      SELECT e2.vec_id, c.cent_id,
             round({_COS_SQL.format(a="e2.embedding", b="c.cent_emb")}, 4)
               AS cs
      FROM embeddings e2 CROSS JOIN cent c
    ),
    iassign AS (
      SELECT vec_id AS c_id, cent_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cs DESC, cent_id) AS rn
        FROM cscored
      ) WHERE rn = 1
    ),
    iprobe AS (
      SELECT vec_id AS q_id, cent_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cs DESC, cent_id) AS rn
        FROM cscored WHERE vec_id < {N_QUERY_VECS}
      ) WHERE rn <= {N_PROBE}
    ),
    cellcand AS (
      SELECT DISTINCT p.q_id, a.c_id
      FROM iprobe p JOIN iassign a ON p.cell = a.cell
      WHERE p.q_id != a.c_id
    ),
    adcf AS (SELECT adc.* FROM adc SEMI JOIN cellcand USING (q_id, c_id))"""\
        + _pq_rerank_tail_sql("adcf")


@_register("sim_topk_ivfpq", _ivfpq_sql())
def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production vector index, composed end to end:
    IVF coarse quantization picks WHICH vectors get scanned (the
    sim_topk_ivf cell rule — broadcast centroids, top-1 assignment,
    nprobe probed cells per query), PQ ADC scores ONLY those cells'
    members in the compressed domain (four table lookups per
    candidate, floats untouched), the top-PQ_SHORTLIST survivors are
    fetched and exactly cosine-reranked. This is what an IVF-PQ
    serving tier (the billion-scale default) does per query.

    Scale shape vs the flat ADC scan (sim_topk_pq_adc /
    sim_topk_pq_rerank): the cell restriction makes the scan
    SUB-LINEAR — candidates per probe are nprobe/nlist of the corpus
    (nlist grows with n under the % {CENT_MOD} rule), while the flat
    scan touches every code. Candidate ids come from an equi-join on
    the cell key; codes are fetched by key for candidates only;
    probes and their distance tables broadcast; exact vectors are
    read for the shortlist alone."""
    anchors = _pq_anchors(spark, sf_dir)
    codes = _pq_codes_table(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")

    cscored = _ivf_scored(emb).drop("embedding")
    w_assign = W.partitionBy("vec_id").orderBy(
        F.col("cs").desc(), "cent_id"
    )
    iassign = _ivf_cells_table(spark, sf_dir).select(
        F.col("vec_id").alias("c_id"), F.col("cell")
    )
    iprobe = (
        cscored.filter(F.col("vec_id") < N_QUERY_VECS)
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") <= N_PROBE)
        .select(F.col("vec_id").alias("q_id"),
                F.col("cent_id").alias("cell"))
    )
    cellcand = (
        F.broadcast(iprobe)
        .join(iassign, "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
        .distinct()
    )

    scored = (
        cellcand
        .join(codes.select("vec_id", "c0", "c1", "c2", "c3"),
              cellcand.c_id == codes.vec_id)
        .join(F.broadcast(_pq_probe_tables(emb, anchors)), "q_id")
        .select("q_id", "c_id", _pq_adc_expr().alias("adc"))
    )
    return _pq_exact_rerank(emb, scored)
