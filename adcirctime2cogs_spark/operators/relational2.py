"""Relational operator suite, part 2: outer joins, the remaining
window-function family, map/struct construction, subquery forms,
date_trunc, sampling, and approximate quantiles. Same conventions as
relational.py (aliases match oracles, doubles via r4)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from adcirctime2cogs_spark.functions.numeric import expand_round_sql, r4
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
    "join_full_outer",
    """
    SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nk,
           count(DISTINCT c.c_custkey)  AS n_cust,
           count(DISTINCT s.s_suppkey)  AS n_supp
    FROM customer c
    FULL OUTER JOIN supplier s ON c.c_nationkey = s.s_nationkey
    GROUP BY 1
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join preserving nation keys present on either side."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    j = cust.join(supp, cust.c_nationkey == supp.s_nationkey, "full_outer")
    return j.groupBy(
        F.coalesce("c_nationkey", "s_nationkey").alias("nk")
    ).agg(
        F.countDistinct("c_custkey").alias("n_cust"),
        F.countDistinct("s_suppkey").alias("n_supp"),
    )


@_register(
    "win_distribution",
    """
    SELECT c_custkey, c_mktsegment,
           ntile(4)       OVER w AS quartile,
           round(percent_rank() OVER w, 4) AS pct_rank,
           round(cume_dist()    OVER w, 4) AS cume,
           first_value(c_custkey) OVER w AS richest,
           nth_value(c_custkey, 2) OVER (PARTITION BY c_mktsegment
                ORDER BY c_acctbal DESC, c_custkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_richest
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window family: ntile / percent_rank / cume_dist /
    first_value / nth_value."""
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        r4(F.percent_rank().over(w)).alias("pct_rank"),
        r4(F.cume_dist().over(w)).alias("cume"),
        F.first("c_custkey").over(w).alias("richest"),
        F.nth_value("c_custkey", 2).over(w_full).alias("second_richest"),
    )


@_register(
    "map_struct_ops",
    """
    SELECT o_orderkey,
           to_json({'status': o_orderstatus, 'priority': o_orderpriority})
             AS props_json,
           round(map_extract(MAP {'total': o_totalprice,
                                  'half': o_totalprice / 2}, 'half')[1], 4)
             AS half_price,
           len(map_keys(MAP {'total': o_totalprice, 'half': o_totalprice / 2}))
             AS n_keys
    FROM orders
    WHERE o_orderkey < 100
    """,
)
def map_struct_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct + map construction and access (the nested-type surface;
    hash-compared via the struct's string form and extracted values)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)
    m = F.create_map(
        F.lit("total"), F.col("o_totalprice"),
        F.lit("half"), F.col("o_totalprice") / 2,
    )
    return orders.select(
        "o_orderkey",
        F.to_json(
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_orderpriority").alias("priority"),
            )
        ).alias("props_json"),
        r4(F.element_at(m, F.lit("half"))).alias("half_price"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


@_register(
    "subquery_correlated",
    """
    WITH oc AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_orderkey, cents AS total_cents
    FROM oc o
    WHERE cents * (SELECT count(*) FROM oc o2
                   WHERE o2.o_custkey = o.o_custkey)
          > 2 * (SELECT sum(cents) FROM oc o2
                 WHERE o2.o_custkey = o.o_custkey)
    """,
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (Catalyst decorrelates to an
    aggregate + join — SURVEY P8's free-lunch row).

    The predicate `price > 2*avg(price)` is evaluated integer-exactly:
    prices are 2dp, so both sides are cent-scaled BIGINTs and the avg
    comparison is cross-multiplied (`cents*cnt > 2*sum_cents`). Any fp
    form — even with both sides rounded — left 1-ulp avg fold-order
    differences between engines able to flip boundary rows (round-1
    and round-2 driver hash fails)."""
    from adcirctime2cogs_spark.tables import _src_hash

    orders = load_table(spark, sf_dir, "orders")
    # view name carries the source digest: a fixed name would race
    # across interleaved sf_dirs in one session (the invariant
    # agg_grouping_sets documents; review r11)
    view = f"_sq_orders_cents_{_src_hash(sf_dir)}"
    orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    ).createOrReplaceTempView(view)
    return spark.sql(expand_round_sql(
        f"""
        SELECT o_orderkey, cents AS total_cents
        FROM {view} o
        WHERE cents * (SELECT count(*) FROM {view} o2
                       WHERE o2.o_custkey = o.o_custkey)
              > 2 * (SELECT sum(cents) FROM {view} o2
                     WHERE o2.o_custkey = o.o_custkey)
        """
    ))


@_register(
    "subquery_in",
    """
    SELECT p_partkey, p_brand
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem
                        WHERE l_quantity > 45)
      AND p_partkey NOT IN (SELECT l_partkey FROM lineitem
                            WHERE l_discount > 0.09
                              AND l_partkey IS NOT NULL)
    """,
)
def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN / NOT IN subqueries (semi + anti join). The NOT IN side
    filters nulls out of the subquery IN BOTH ENGINES: SQL NOT IN is
    null-aware (one NULL key empties the whole result) while a
    left_anti join is not — pinning the subquery non-null makes the
    two semantics identical instead of coincidentally equal on
    null-free fixtures."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    hi_qty = li.filter(F.col("l_quantity") > 45).select("l_partkey")
    hi_disc = li.filter(
        (F.col("l_discount") > 0.09) & F.col("l_partkey").isNotNull()
    ).select("l_partkey")
    return (
        part.join(hi_qty, part.p_partkey == hi_qty.l_partkey, "left_semi")
        .join(hi_disc, part.p_partkey == hi_disc.l_partkey, "left_anti")
        .select("p_partkey", "p_brand")
    )


@_register(
    "date_trunc_agg",
    """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
           count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 4)
             AS revenue
    FROM orders
    GROUP BY 1
    """,
)
def date_trunc_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar bucketing via date_trunc (the monthly-rollup idiom)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
                "month"
            )
        )
        .agg(
            F.count("*").alias("n"),
            # exact decimal: months span the table at scale
            # (optimization r13, q1's discipline)
            r4(F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
               .cast("double")).alias("revenue"),
        )
    )


@_register(
    "sample_reservoir",
    """
    SELECT l_orderkey, l_linenumber
    FROM (
      SELECT l_orderkey, l_linenumber,
             ((l_orderkey * 8 + l_linenumber) % 2147483648)
               * 2654435761 % 4294967296 AS h
      FROM lineitem
    )
    ORDER BY h, l_orderkey, l_linenumber
    LIMIT 1000
    """,
)
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform fixed-size sample as DETERMINISTIC bottom-k-by-hash
    (Knuth multiplicative hash on the row key): selecting the k rows
    with the smallest hash values IS a uniform k-sample, and — unlike
    an RNG reservoir — it is engine-portable (integer arithmetic both
    engines compute exactly, hence a value-hashed oracle rather than
    rows-only), stable under re-runs and repartitioning, and
    distributed-friendly: Spark plans the sort+limit as
    TakeOrderedAndProject (per-partition top-k, then a k-row merge on
    the driver — the same communication shape as distributed reservoir
    merging). Engine-seeded .sample() remains available for
    statistical workloads; this is the reproducible-pipeline variant
    (e.g. train-set sampling where re-runs must pick identical rows).
    """
    li = load_table(spark, sf_dir, "lineitem")
    # reduce the key mod 2^31 BEFORE the Knuth multiply so the
    # intermediate is bounded by (2^31-1)*2654435761 ~ 5.7e18 < 2^63-1
    # at ANY scale factor: mod 2^32 would still overflow int64 for
    # ~19% of residues (residue * 2654435761 up to 1.14e19), wrapping
    # silently in Spark while DuckDB raises on the same multiply.
    h = (
        ((F.col("l_orderkey") * 8 + F.col("l_linenumber")) % F.lit(2147483648))
        * F.lit(2654435761)
        % F.lit(4294967296)
    ).alias("h")
    return (
        li.select("l_orderkey", "l_linenumber", h)
        .orderBy("h", "l_orderkey", "l_linenumber")
        .limit(1000)
        .select("l_orderkey", "l_linenumber")
    )


@_register(
    "agg_approx_quantiles",
    """
    SELECT l_returnflag, count(*) AS n_rows,
           true AS q25_within_1pct,
           true AS q50_within_1pct,
           true AS q75_within_1pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL-style sketch): the constant-memory
    quantile path for 100TB; exact twin is agg_exact_percentiles.

    Sketch values are engine-specific, so the oracle checks the
    sketch's RANK contract instead of its values: for each quartile v
    returned at accuracy=1000 (guaranteed rank error <= n/1000), the
    query re-ranks v against the actual data and emits an
    integer-exact within-1%-rank boolean — v is a valid (q ± 0.01)
    quantile iff count(x < v)*100 <= (q_pct+1)*n  AND
    count(x <= v)*100 >= (q_pct-1)*n (the two-sided form is duplicate-
    value-safe). The DuckDB oracle emits literal `true`s: the hash
    matches iff the sketch really is inside 10x its guaranteed error,
    which no correct engine can fail deterministically."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    qs = li.groupBy("l_returnflag").agg(
        F.expr(
            "approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 1000)"
        ).alias("qv")
    )
    joined = li.join(F.broadcast(qs), "l_returnflag")
    agg_exprs = [F.count("*").alias("n_rows")]
    for i, q_pct in ((0, 25), (1, 50), (2, 75)):
        v = F.col("qv")[i]
        p = F.col("l_extendedprice")
        agg_exprs.append(F.sum((p < v).cast("long")).alias(f"lt{q_pct}"))
        agg_exprs.append(F.sum((p <= v).cast("long")).alias(f"le{q_pct}"))
    g = joined.groupBy("l_returnflag").agg(*agg_exprs)
    return g.select(
        "l_returnflag",
        "n_rows",
        *[
            (
                (F.col(f"lt{q_pct}") * 100 <= (q_pct + 1) * F.col("n_rows"))
                & (F.col(f"le{q_pct}") * 100 >= (q_pct - 1) * F.col("n_rows"))
            ).alias(f"q{q_pct}_within_1pct")
            for q_pct in (25, 50, 75)
        ],
    )


@_register(
    "string_funcs2",
    """
    SELECT p_partkey,
           lpad(CAST(p_partkey AS VARCHAR), 10, '0')  AS padded,
           reverse(p_brand)                           AS rev_brand,
           translate(p_type, 'AEIOU', 'aeiou')        AS type_tr,
           repeat('-', p_size % 5)                    AS dashes,
           split_part(p_type, ' ', 1)                 AS type_head,
           strpos(p_name, 'a')                        AS first_a
    FROM part WHERE p_partkey < 100
    """,
)
def string_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string batch: lpad/reverse/translate/repeat/split_part/
    instr."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 100)
    return part.select(
        "p_partkey",
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("padded"),
        F.reverse("p_brand").alias("rev_brand"),
        F.translate("p_type", "AEIOU", "aeiou").alias("type_tr"),
        F.repeat(F.lit("-"), (F.col("p_size") % 5).cast("int")).alias("dashes"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
        F.instr("p_name", "a").alias("first_a"),
    )


@_register(
    "array_funcs2",
    """
    SELECT vec_id,
           array_to_string(
             list_transform(
               list_sort(list_transform(embedding[1:4],
                                        x -> round(CAST(x AS DOUBLE), 4))),
               x -> printf('%.4f', x)),
             ',')                                              AS head_sorted,
           round(CAST(list_max(embedding[1:8]) AS DOUBLE), 4)  AS head_max,
           len(list_filter(embedding, x -> x > 0))             AS n_pos,
           list_contains(list_transform(embedding, x -> x > 1.0), true) AS any_gt1
    FROM embeddings WHERE vec_id < 50
    """,
)
def array_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second array batch: slice/sort/filter/exists over vectors.

    The sorted head array is emitted as a fixed-decimal CSV string
    (`%.4f` is bit-stable across Java's and DuckDB's printf on
    identical doubles, unlike JSON float rendering) — external row
    canonicalizers can't sort array-typed columns (round-1 driver
    err)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    head4 = F.slice("embedding", 1, 4)
    return emb.select(
        "vec_id",
        F.array_join(
            F.transform(
                F.array_sort(F.transform(head4, lambda x: r4(x.cast("double")))),
                lambda x: F.format_string("%.4f", x),
            ),
            ",",
        ).alias("head_sorted"),
        r4(F.array_max(F.slice("embedding", 1, 8)).cast("double")).alias("head_max"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.exists("embedding", lambda x: x > 1.0).alias("any_gt1"),
    )


@_register(
    "win_range_frame",
    """
    SELECT o_orderkey, o_custkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS od,
           round(sum(o_totalprice) OVER w, 4) AS sum_30d,
           count(*) OVER w AS n_30d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
                 RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-range window frame (RANGE, not ROWS): per customer, the
    trailing-30-day order total — the frame is bounded by the ORDER BY
    *value* (epoch seconds), so same-instant peer rows always share one
    frame regardless of physical order."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("od"),
        r4(F.sum("o_totalprice").over(w)).alias("sum_30d"),
        F.count("*").over(w).alias("n_30d"),
    )


_N_SALT = 8


@_register(
    "join_skew_salted",
    """
    SELECT c_nationkey AS nationkey, count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 4)
             AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-salted skew join: the manual pattern for a hot key that
    overwhelms one reducer when AQE skew splitting isn't available
    (e.g. the build side of a shuffled hash join, or pre-3.0 clusters).

    The fact side gets a deterministic salt (hash of a second column,
    mod 8); the dim side explodes to all 8 salt values; the join key
    becomes (key, salt), spreading one hot key over 8 reducers. The
    salt provably never changes the result — the oracle is the plain
    unsalted join. The merge hint forces the shuffle path so the
    pattern is actually exercised (a broadcast would bypass it)."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "salt", F.pmod(F.hash("o_orderkey"), F.lit(_N_SALT))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(_N_SALT - 1)))
        )
        .hint("merge")
    )
    return (
        orders.join(
            cust,
            (orders.o_custkey == cust.c_custkey) & (orders.salt == cust.salt),
        )
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("n_orders"),
            # exact decimal: per-nation groups span the table at scale
            r4(F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
               .cast("double")).alias("revenue"),
        )
    )


@_register(
    "join_sort_merge",
    """
    SELECT l_orderkey, o_orderdate, count(*) AS n_lines,
           round(sum(l_extendedprice), 4) AS total
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_orderkey, o_orderdate
    """,
)
def join_sort_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit sort-merge join (merge hint): the shuffle-and-sort
    strategy both sides stream through at 100TB when neither fits in
    memory — same semantics as the hash path, different physical plan
    (asserted in tests/test_plans.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").hint("merge")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.count("*").alias("n_lines"), r4(F.sum("l_extendedprice")).alias("total"))
    )


@_register(
    "agg_corr_covar",
    """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covs_qp,
           round(covar_pop(l_quantity, l_discount), 4) AS covp_qd
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate aggregates (corr / covar_samp / covar_pop): one-pass
    co-moment accumulators that partial-aggregate map-side like any
    hash agg — no second scan, no window."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r4(F.corr("l_quantity", "l_extendedprice")).alias("corr_qp"),
        r4(F.covar_samp("l_quantity", "l_extendedprice")).alias("covs_qp"),
        r4(F.covar_pop("l_quantity", "l_discount")).alias("covp_qd"),
    )


@_register(
    "agg_exact_percentiles",
    """
    SELECT l_returnflag,
           round(median(l_quantity), 4) AS med_qty,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (interpolating) percentiles per group — the sort-based
    exact twin of agg_approx_quantiles' sketch path: right where a full
    sort per group is affordable, wrong tool at 100 TB (use the
    approx_percentile sketch there; both are registered so the tradeoff
    is explicit)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r4(F.median("l_quantity")).alias("med_qty"),
        r4(F.percentile("l_extendedprice", F.lit(0.25))).alias("p25_price"),
        r4(F.percentile("l_extendedprice", F.lit(0.75))).alias("p75_price"),
    )


@_register(
    "join_lateral_topk",
    """
    SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 4) AS o_totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2
    ) t
    WHERE c.c_custkey < 200
    """,
)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: top-2 orders per customer, expressed
    as a per-row dependent subtree instead of topk_per_group's window.
    Catalyst decorrelates it into a ranked join (DecorrelateInnerQuery),
    so the physical plan is the same shuffle-on-key shape — the point is
    API surface parity with engines that expose LATERAL."""
    from adcirctime2cogs_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(expand_round_sql(
        """
        SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 4) AS o_totalprice
        FROM customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) t
        WHERE c.c_custkey < 200
        """
    ))


@_register(
    "udtf_python_native",
    """
    SELECT o_orderkey, i AS installment,
           round(CASE WHEN i < 3 THEN o_totalprice / 3
                      ELSE o_totalprice - 2 * (o_totalprice / 3) END,
                 4) AS amount
    FROM orders, generate_series(1, 3) g(i)
    WHERE o_orderkey < 100
    """,
)
def udtf_python_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Python UDTF (@udtf, Spark 3.5+) applied per input row via
    LATERAL: each order expands to 3 installment rows, the last
    absorbing the fp remainder. Complements udtf_expand_rows'
    mapInPandas form: this is the registered-table-function shape SQL
    users call directly. Row-at-a-time eval — fine for control-plane
    expansion, the wrong tool for bulk numeric columns (use the Arrow
    paths in udfs.py for those)."""
    from pyspark.sql.functions import udtf

    from adcirctime2cogs_spark.tables import register_views

    @udtf(returnType="o_orderkey bigint, installment int, amount double")
    class Installments:
        def eval(self, okey, price):
            base = price / 3
            yield okey, 1, base
            yield okey, 2, base
            yield okey, 3, price - 2 * base

    register_views(spark, sf_dir)
    spark.udtf.register("installments", Installments)
    out = spark.sql(
        """
        SELECT i.o_orderkey, i.installment, i.amount
        FROM orders o, LATERAL installments(o.o_orderkey, o.o_totalprice) i
        WHERE o.o_orderkey < 100
        """
    )
    return out.select("o_orderkey", "installment", r4("amount").alias("amount"))


@_register(
    "json_variant_agg",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           max(CAST(props->>'$.k' AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def json_variant_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured aggregation through the VARIANT type (Spark 4):
    parse_json once into the binary variant encoding, then typed
    variant_get extraction feeding a plain hash agg. Unlike
    get_json_object (which re-parses the string per access), variant
    parses once and shreds cheaply — the right shape when a 100 TB
    events feed carries deep JSON payloads read by many extractions."""
    events = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


@_register(
    "subquery_scalar_select",
    """
    SELECT n_name,
           (SELECT count(*) FROM customer c WHERE c.c_nationkey = n.n_nationkey)
             AS n_customers,
           (SELECT coalesce(sum(CAST(floor(CAST(c.c_acctbal AS DOUBLE)
                                           * 1e2 + 0.5) AS BIGINT)), 0) / 1e2
            FROM customer c WHERE c.c_nationkey = n.n_nationkey) AS total_bal
    FROM nation n
    """,
)
def subquery_scalar_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subqueries in the SELECT list (per-row correlated
    aggregates) — Catalyst decorrelates both into ONE left outer
    aggregate join on the correlation key, so the nation scan is not
    re-probed per row (SURVEY P8). The balance sum runs in exact
    integer CENTS (the agg_distinct discipline): each 2dp balance
    rounds to a BIGINT cent count, the sum is exact in any fold order
    at any scale, and one final /1e2 lands on DOUBLE in both engines —
    the r11 round()-based form kept Spark in decimal(38,6) while
    DuckDB emitted DOUBLE, a type-divergent hash (VERDICT r11 #2)."""
    from adcirctime2cogs_spark.tables import _src_hash

    # source-digest view names — see subquery_correlated (review r11)
    tag = _src_hash(sf_dir)
    v_n, v_c = f"_sq_nation_{tag}", f"_sq_customer_{tag}"
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(v_n)
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(v_c)
    return spark.sql(
        f"""
        SELECT n_name,
               (SELECT count(*) FROM {v_c} c
                WHERE c.c_nationkey = n.n_nationkey) AS n_customers,
               (SELECT coalesce(sum(CAST(floor(CAST(c.c_acctbal AS DOUBLE)
                                               * 1e2 + 0.5) AS BIGINT)), 0) / 1e2
                FROM {v_c} c
                WHERE c.c_nationkey = n.n_nationkey) AS total_bal
        FROM {v_n} n
        """
    )


@_register(
    "tpch_q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           round(sum(round(l.l_extendedprice * (1 - l.l_discount), 4)), 4)
             AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY round(sum(round(l.l_extendedprice * (1 - l.l_discount), 4)), 4)
             DESC, l.l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): the classic selective
    filter-join-agg-topk. Both date filters push to the parquet scans,
    only the customer-segment dim table broadcasts (orders stays on
    the shuffle path — it is fact-scale even after the date cut), and
    the top-10 plans as TakeOrderedAndProject. Each line's revenue term is rounded to 4dp
    BEFORE the sum so the aggregate is exact-decimal in both engines
    and the rank order cannot flip on a last-ulp difference."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1995-03-15"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1995-03-15"
    )
    # r4, not F.round: Spark HALF_UP and the oracle's expanded floor
    # form can disagree at fp half-boundaries (see functions/numeric.py)
    term = r4(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    # Only the segment-filtered CUSTOMER table is dim-scale; orders
    # filtered by date alone is still ~half the fact table, so the
    # c⋈o result must NOT be force-broadcast. Broadcast c into the
    # orders join, then shuffle-join lineitem on o_orderkey (AQE may
    # still upgrade it at small SF).
    co = o.join(F.broadcast(c), c.c_custkey == o.o_custkey)
    return (
        li.join(co, li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(r4(F.sum(term)).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@_register(
    "tpch_q18_large_volume",
    """
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    )
    SELECT c.c_name, o.o_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           round(o.o_totalprice, 4) AS totalprice,
           round(sum(l.l_quantity), 4) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN big b ON b.l_orderkey = o.o_orderkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_name, o.o_custkey, o.o_orderkey, o.o_orderdate,
             o.o_totalprice
    """,
)
def tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): the having-subquery →
    semi-reduction shape. The per-order quantity rollup is ONE
    partial-aggregated hash agg over lineitem (map-side combine before
    the orderkey shuffle) that serves BOTH roles — the >150 cut AND
    the reported sum_qty: because the output's group key contains the
    orderkey, the classic re-join-lineitem-and-re-aggregate detail
    pass would recompute exactly this rollup, so it is dropped
    (measured: 1 lineitem scan vs 2). Orders then joins only the
    qualifying ≈0.1%, customer broadcasts — the plan you want at
    100 TB. Quantities are whole numbers, so their double sums are
    exact and the >150 cut cannot straddle engines."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 150)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        big.join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            r4(F.col("o_totalprice")).alias("totalprice"),
            r4(F.col("sq")).alias("sum_qty"),
        )
    )


@_register(
    "join_relational_division",
    """
    WITH pr AS (SELECT DISTINCT o_orderpriority FROM orders),
    cp AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders)
    SELECT o_custkey, count(*) AS n_priorities
    FROM cp GROUP BY o_custkey
    HAVING count(*) = (SELECT count(*) FROM pr)
    """,
)
def join_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division (universal quantification): customers whose
    orders span EVERY priority class — 'for all x in divisor, (c, x)
    exists'. The textbook operator SQL lacks a keyword for, expressed
    as the standard count-matching reduction: distinct (customer,
    priority) pairs, grouped, kept when the per-customer count equals
    the divisor cardinality (a one-row broadcast).

    Shape at scale: one distinct + one hash agg, both keyed on the
    customer — the divisor cardinality is a ONE-ROW broadcast joined
    into the final filter, evaluated at EXECUTION time with the rest
    of the plan (review r11: an eager .count() here ran a full orders
    job at plan-construction time and baked a literal in, so a
    regenerated fixture executed the dividend against a stale
    divisor, and merely BUILDING the plan cost a scan)."""
    orders = load_table(spark, sf_dir, "orders")
    pr_count = orders.select("o_orderpriority").distinct().agg(
        F.count("*").alias("pr_n")
    )
    cp = orders.select("o_custkey", "o_orderpriority").distinct()
    return (
        cp.groupBy("o_custkey")
        .agg(F.count("*").alias("n_priorities"))
        .join(F.broadcast(pr_count))
        .filter(F.col("n_priorities") == F.col("pr_n"))
        .select("o_custkey", "n_priorities")
    )


@_register(
    "agg_rfm_segmentation",
    """
    WITH base AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate),
                       (SELECT max(o_orderdate) FROM orders)) AS recency,
             count(*) AS frequency,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, recency, frequency, monetary_cents,
           ntile(5) OVER (ORDER BY recency, o_custkey)              AS r_score,
           ntile(5) OVER (ORDER BY frequency DESC, o_custkey)       AS f_score,
           ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey)  AS m_score
    FROM base
    """,
)
def agg_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency / frequency / monetary
    quintiles — the classic warehouse scoring reshape (one agg pass +
    exact ntile bucketing, custkey tie-breaks making every bucket
    boundary deterministic; monetary is cent-scaled BIGINT so no fp
    enters the ordering).

    The quintiles are EXACT ntile(5) but no longer a single-partition
    window (review r12): each score derives from a distributed global
    rank — functions/distwindow.global_rank's two-phase parallel scan
    (deterministic equal-width buckets on the metric, per-bucket
    row_number, prefix-combined bucket counts) — and ntile_from_rank's
    closed-form ANSI bucket arithmetic on the rank and the
    driver-collected total. Bit-identical to the single-partition
    ntile at any bucket shape, but every row stays on its executor; a
    pathologically skewed metric only unbalances buckets (slower,
    still exact). The approx_percentile-cutpoint variant
    (agg_approx_quantiles) remains the lossy cheaper option.

    The three ranks use COLLECTED bucket offsets (optimization r12):
    the lazy join-back form re-executed the base subtree per
    reference, so chaining three ranks planned it 8x (8 duplicated
    BNLJ one-row broadcasts, 44 Exchanges, and the cartesian-product
    plan gate tripped). Offsets are three n_buckets-row driver
    collects at plan-construction time — the same eager-calibration
    discipline as `cal` below, re-collected per data version by the
    registry plan cache — and the executed plan is base -> three
    chained bucket-partitioned windows: ONE base aggregation, one
    allowlisted BNLJ (the corpus-max-date broadcast), 3 Exchanges."""
    orders = load_table(spark, sf_dir, "orders")
    maxd = orders.agg(F.max("o_orderdate").alias("gmax"))
    base = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("lastd"),
            F.count("*").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "o_custkey",
            F.datediff("gmax", "lastd").alias("recency"),
            "frequency",
            "monetary_cents",
        )
    )
    from adcirctime2cogs_spark.functions.distwindow import (
        bucket_offsets,
        global_rank,
        ntile_from_rank,
    )

    # ONE calibration pass over the per-customer base collects the
    # total plus all three bucket-key ranges (review r12: letting each
    # global_rank self-calibrate re-executed the base aggregation —
    # and every previously chained rank — once per metric)
    cal = base.agg(
        F.count("*").alias("n"),
        F.min("recency").cast("bigint").alias("r_lo"),
        F.max("recency").cast("bigint").alias("r_hi"),
        F.min(-F.col("frequency")).cast("bigint").alias("f_lo"),
        F.max(-F.col("frequency")).cast("bigint").alias("f_hi"),
        F.min(-F.col("monetary_cents")).cast("bigint").alias("m_lo"),
        F.max(-F.col("monetary_cents")).cast("bigint").alias("m_hi"),
    ).first()
    n_total = F.lit(cal["n"]).cast("bigint")
    r_b = (cal["r_lo"], cal["r_hi"])
    f_b = (cal["f_lo"], cal["f_hi"])
    m_b = (cal["m_lo"], cal["m_hi"])
    # collected offsets (see docstring): per-bucket COUNTS are rank
    # inputs only, so all three are computed over `base` — never over
    # the chained frame — and baked in as literal lookups
    r_off = bucket_offsets(base, F.col("recency"), bounds=r_b)
    f_off = bucket_offsets(base, -F.col("frequency"), bounds=f_b)
    m_off = bucket_offsets(base, -F.col("monetary_cents"), bounds=m_b)
    ranked = global_rank(
        base, F.col("recency"), ["recency", "o_custkey"], "_rr",
        bounds=r_b, offsets=r_off,
    )
    ranked = global_rank(
        ranked, -F.col("frequency"),
        [F.col("frequency").desc(), "o_custkey"], "_fr",
        bounds=f_b, offsets=f_off,
    )
    ranked = global_rank(
        ranked, -F.col("monetary_cents"),
        [F.col("monetary_cents").desc(), "o_custkey"], "_mr",
        bounds=m_b, offsets=m_off,
    )
    return ranked.select(
        "o_custkey",
        "recency",
        "frequency",
        "monetary_cents",
        ntile_from_rank(F.col("_rr"), n_total, 5).alias("r_score"),
        ntile_from_rank(F.col("_fr"), n_total, 5).alias("f_score"),
        ntile_from_rank(F.col("_mr"), n_total, 5).alias("m_score"),
    )


@_register(
    "join_bucketed",
    """
    SELECT o.o_orderpriority,
           round(sum(l.l_quantity), 4) AS sum_qty,
           count(*) AS n_items,
           min(l.l_orderkey) AS min_orderkey,
           max(l.l_orderkey) AS max_orderkey
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides are written `bucketBy(8,
    orderkey)` + sorted, so the SortMergeJoin reads bucket files
    directly with NO pre-join Exchange on either side — the 100 TB
    pattern for a fact table joined on the same key every day. The only
    shuffle in the whole plan is the final 5-group priority rollup.

    The bucketed table NAMES are derived from digests of ``sf_dir``,
    the fixture's DATA VERSION, and this session's applicationId:
    per-sf_dir so a returned (lazy) sf_a plan can never be rebound to
    sf_b's rows by a later call; per-version so an in-place fixture
    regeneration writes NEW tables instead of rewriting under a
    previously returned plan; per-application so two sessions sharing
    a warehouse can never clobber each other's bucket files mid-scan
    (review r11 — the old form dropped + rewrote the same paths on
    EVERY call, failing any concurrent reader and billing two table
    writes to each bench iteration). Within a session, repeat calls
    at the same version reuse the existing tables write-free;
    superseded versions of this app's tables are dropped on the next
    write. The `merge` hint keeps the planner on the SMJ path buckets
    exist for — at fixture scale it would otherwise broadcast and
    skip bucket pruning entirely.

    Reference parity: the reference engine has no bucketing concept
    (single-node xarray, run/adcircTime2cogs.py); this is the §2B
    'joins co-located' category from SURVEY.md.
    """
    import hashlib
    import shutil

    from adcirctime2cogs_spark.memo import data_version
    from adcirctime2cogs_spark.tables import _src_hash

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    # canonical source-dir tag (review r11: an inlined md5 here would
    # diverge from warehouse naming if _src_hash ever normalized paths)
    src = _src_hash(sf_dir)
    ver = hashlib.md5(str(data_version(sf_dir)).encode()).hexdigest()[:8]
    app = hashlib.md5(
        spark.sparkContext.applicationId.encode()
    ).hexdigest()[:6]
    tag = f"{src}_{ver}_{app}"
    t_li, t_o = f"bkt_lineitem_{tag}", f"bkt_orders_{tag}"
    if not (spark.catalog.tableExists(t_li)
            and spark.catalog.tableExists(t_o)):
        # drop THIS app's superseded versions of the same source (a
        # per-session metastore: DROP TABLE alone won't clear a
        # previous version's managed location, so clear the dirs too)
        warehouse = spark.conf.get(
            "spark.sql.warehouse.dir"
        ).removeprefix("file:")
        for base in ("bkt_lineitem", "bkt_orders"):
            for old in spark.catalog.listTables():
                if (old.name.startswith(f"{base}_{src}_")
                        and old.name.endswith(f"_{app}")
                        and old.name not in (t_li, t_o)):
                    spark.sql(f"DROP TABLE IF EXISTS {old.name}")
                    shutil.rmtree(
                        f"{warehouse}/{old.name}", ignore_errors=True
                    )
        # clear any orphan dir at OUR names (a dead same-app run
        # cannot exist; an old process's leftovers never match the
        # fresh applicationId digest)
        for t in (t_li, t_o):
            shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
            "overwrite"
        ).saveAsTable(t_li)
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
            "overwrite"
        ).saveAsTable(t_o)
    j = spark.table(t_li).hint("merge").join(
        spark.table(t_o),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return j.groupBy("o_orderpriority").agg(
        r4(F.sum("l_quantity")).alias("sum_qty"),
        F.count("*").alias("n_items"),
        F.min("l_orderkey").alias("min_orderkey"),
        F.max("l_orderkey").alias("max_orderkey"),
    )


# construction mutates catalog/warehouse state (writes the versioned
# bucketed tables when absent and drops superseded versions), so the
# registry plan cache hands out a fresh plan each call — construction
# itself is write-free once the current version's tables exist
join_bucketed._no_plan_cache = True


from adcirctime2cogs_spark.tables import layout_once as _layout_once


@_register(
    "scan_orc_pushdown",
    """
    SELECT l_returnflag, count(*) AS n_items,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 4) AS sum_price,
           min(l_orderkey) AS min_orderkey
    FROM lineitem
    WHERE l_quantity >= 40
    GROUP BY l_returnflag
    """,
)
def scan_orc_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan with predicate pushdown: the same columnar-format
    discipline the parquet scans are plan-gated on, exercised on
    Spark's other built-in columnar format. The lineitem projection is
    rewritten as ORC once per call (narrow 4-column write), then the
    aggregate reads it back with a `l_quantity >= 40` predicate that
    must reach the ORC reader as a search argument (PushedFilters in
    the scan node — gated in tests/test_plans.py) so row groups whose
    min/max exclude the bound never decompress. At 100 TB the format
    choice is a table property, not a query rewrite: everything
    downstream of the scan is identical to the parquet plan. The ORC
    copy is laid out ONCE per fixture version (_layout_once), so the
    measured query is the pruned scan, not a re-layout (VERDICT r07).

    Reference parity: the reference reads NetCDF only
    (run/utilities/adcirc_dask_utilities.py:42); this is the §2B
    'scans: columnar formats' category widened beyond parquet/csv/json.
    """
    path = _layout_once(
        spark, sf_dir, "orc_lineitem",
        lambda p: load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice",
                "l_returnflag")
        .write.orc(p),
        # names the generating rule per layout_once's contract —
        # editing the projection must invalidate warm layouts
        code_ver="orc:l_orderkey,l_quantity,l_extendedprice,l_returnflag",
    )
    return (
        spark.read.orc(path)
        .filter(F.col("l_quantity") >= 40)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            # exact decimal: per-flag groups span the table at scale
            r4(F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
               .cast("double")).alias("sum_price"),
            F.min("l_orderkey").alias("min_orderkey"),
        )
    )


@_register(
    "join_dpp_partitioned",
    """
    WITH dim(p, boost) AS (VALUES ('1-URGENT', 1), ('2-HIGH', 1))
    SELECT o_orderpriority, count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 4) AS sum_price,
           min(o_orderkey) AS min_orderkey
    FROM orders JOIN dim ON o_orderpriority = dim.p AND dim.boost > 0
    GROUP BY o_orderpriority
    """,
)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out
    partitioned BY the join key (one directory per o_orderpriority —
    the date-partitioned-fact pattern every 100 TB warehouse uses),
    and the join's small filtered dim side feeds the scan a runtime
    partition filter (`dynamicpruningexpression` in the scan node —
    gated in tests/test_plans.py). Spark broadcasts the dim for the
    join anyway, REUSES that broadcast as the pruning subquery, and
    the fact scan lists only the 2 of 5 priority directories the dim
    survives — 60% of the fact table is never opened, before any row
    predicate runs. The selective `boost > 0` filter on the dim is
    what qualifies it as a pruning source (Spark only injects DPP
    when the build side has a selective predicate). The partitioned
    copy is laid out ONCE per fixture version (_layout_once), so the
    measured query is the pruned scan, not a re-layout (VERDICT r07).

    Reference parity: no analogue (single-node xarray); §2B 'joins:
    partition-pruned' — the scan-reduction twin of join_bucketed's
    shuffle elimination.
    """
    path = _layout_once(
        spark, sf_dir, "dpp_orders",
        lambda p: load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.partitionBy("o_orderpriority").parquet(p),
        code_ver="parquet:partitionBy(o_orderpriority):"
                 "o_orderkey,o_totalprice",
    )
    dim = spark.createDataFrame(
        [("1-URGENT", 1), ("2-HIGH", 1)], "p string, boost int"
    ).filter(F.col("boost") > 0)
    fact = spark.read.parquet(path)
    return (
        fact.join(dim, fact["o_orderpriority"] == dim["p"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            # exact decimal: per-priority groups span the table at scale
            r4(F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
               .cast("double")).alias("sum_price"),
            F.min("o_orderkey").alias("min_orderkey"),
        )
    )


@_register(
    "agg_boolean_flags",
    """
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000)    AS all_over_1k,
           bool_or(o_totalprice > 400000)   AS any_over_400k,
           CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_finished,
           max(o_orderkey)                  AS max_key
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_boolean_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean-aggregate family (every/any/count_if): universal and
    existential per-group flags plus a conditional count — the audit
    predicates ("did EVERY order clear the floor, did ANY breach the
    cap") that SQL's bool_and/bool_or express without a join or a
    self-anti pattern. All are hash-aggregable single-bit buffers —
    partial+final with map-side combine, the cheapest aggregate class
    at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        F.max("o_orderkey").alias("max_key"),
    )
