"""Physical-plan quality gates (SURVEY §4): these assert the plans we
designed for — pushdown at the scan, broadcast for dims, partial
aggregation, TakeOrderedAndProject for global top-k — so a future edit
that silently degrades a plan fails the suite, not just the bench."""

import pytest
from pyspark.sql import functions as F

from adcirctime2cogs_spark.operators import relational
from adcirctime2cogs_spark.tables import load_table


def _plan(df) -> str:
    """Physical plan string, FINAL section only: once a DataFrame has
    executed (e.g. the registry plan cache hands back a collected one),
    AdaptiveSparkPlan.toString() appends an '== Initial Plan ==' dump —
    counting node occurrences over the whole string would then double
    every operator and fail exact-allowance gates spuriously."""
    s = df._jdf.queryExecution().executedPlan().toString()
    return s.split("== Initial Plan ==")[0]


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1995-01-01"
    ).select("l_orderkey", "l_quantity")
    explained = df._jdf.queryExecution().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in explained
    # column pruning: scan schema carries only the 3 referenced columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_shipdate" in explained


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(relational.join_star_revenue(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3  # customer/nation/region ship


def test_q1_partial_aggregates(spark, sf_dir):
    plan = _plan(relational.q1_pricing_summary(spark, sf_dir))
    # two HashAggregates (partial + final) around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_sort_limit_is_top_k_not_full_sort(spark, sf_dir):
    plan = _plan(relational.sort_limit(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_semi_anti_join_operators(spark, sf_dir):
    assert "LeftSemi" in _plan(relational.join_semi(spark, sf_dir))
    assert "LeftAnti" in _plan(relational.join_anti(spark, sf_dir))


def test_regrid_weights_join_is_equi_not_cross(spark):
    """The O14 bin join must plan as an equi-join on (bx, by) — a
    cross join here would be the quadratic failure mode."""
    from adcirctime2cogs_spark.plans import micromesh as mm
    from adcirctime2cogs_spark.plans.weights import build_weights

    # a cache hit (test_domain's module fixture caches the identical DF)
    # would print the InMemoryRelation's stored plan twice and double
    # every join count — inspect a fresh plan instead
    spark.catalog.clearCache()
    w = build_weights(
        mm.cells_df(spark), mm.nodes_df(spark), mm.elements_df(spark), mm.BIN_SIZE
    )
    plan = _plan(w)
    # the cell-triangle candidate join hashes on the bin keys
    assert "HashJoin [bx" in plan or "SortMergeJoin [bx" in plan
    assert "CartesianProduct" not in plan
    # the only nested-loop join allowed is the row x col grid GENERATOR
    # (spark.range cross spark.range); the spatial join must not be one
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_ivf_ann_broadcasts_centroids_and_probes(spark, sf_dir):
    """sim_topk_ivf: the centroid scoring is a broadcast (nlist rows
    ship, vectors stream) and the candidate join hashes on the cell id —
    never a vector x vector cartesian."""
    from adcirctime2cogs_spark.operators.similarity import sim_topk_ivf

    plan = _plan(sim_topk_ivf(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # exactly ONE intentional broadcast NLJ remains: the probe-side
    # centroid scoring; database-side assignment reads the
    # materialized inverted file (ivf_cells layout), never re-scores
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "BroadcastHashJoin [cell" in plan  # probe-cell equi-join

def test_embedding_dedup_blocks_and_anti_joins(spark, sf_dir):
    """dedup_embedding_cosine: candidates come from the sign-bucket
    equi-join (sub-quadratic) and survivors from a broadcast anti-join —
    the documents table itself never self-joins."""
    from adcirctime2cogs_spark.operators.dedup import dedup_embedding_cosine

    plan = _plan(dedup_embedding_cosine(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan

def test_weights_dedupe_is_hash_agg_not_sort(spark):
    """build_weights boundary dedupe must stay a min_by hash aggregate
    (partial map-side combine), not a row_number sort window."""
    from adcirctime2cogs_spark.plans import micromesh as mm
    from adcirctime2cogs_spark.plans.weights import build_weights

    spark.catalog.clearCache()
    w = build_weights(
        mm.cells_df(spark), mm.nodes_df(spark), mm.elements_df(spark), mm.BIN_SIZE
    )
    plan = _plan(w)
    assert "min_by" in plan
    assert "Window" not in plan
    assert "partial_min_by" in plan

def test_ts_partitioned_scan_prunes_partitions(spark, tmp_path):
    """SURVEY P2: a timestep filter over ts-partitioned parquet must
    prune at the scan (the engine twin of the reference's
    chunks={'time':1} + per-ts slice, adcirc_dask_utilities.py:42) —
    one timestep's query never touches another timestep's files."""
    from pyspark.sql import functions as F

    from adcirctime2cogs_spark.plans.synthetic import synth_timeseries

    path = str(tmp_path / "ts_part")
    tsv = synth_timeseries(spark, 10, 4)  # ts labels t0..t3
    tsv.write.partitionBy("ts").parquet(path)

    one = spark.read.parquet(path).filter(F.col("ts") == "t2")
    explained = one._jdf.queryExecution().toString()
    assert "PartitionFilters: [isnotnull(ts" in explained
    assert "(ts" in explained and "= t2)" in explained
    # only the t2 directory is read: row count == one timestep, and
    # every file actually touched lives under the t2 partition dir
    assert one.count() == 100
    files = {
        r.f for r in one.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert files and all("ts=t2" in f for f in files)


def test_no_query_plans_a_cartesian_product(spark, sf_dir):
    """Suite-wide hygiene: NO registered query may plan a
    CartesianProduct, and broadcast nested-loop joins are allowed only
    where they are the intentional tiny-side generator/probe broadcast
    (grid row x col ranges, ANN probe/centroid ships). The quadratic
    failure mode at 100 TB is exactly an unintended cross join."""
    from adcirctime2cogs_spark import registry

    # queries whose plan legitimately contains broadcast NLJ generators
    bnlj_allowance = {
        "micromesh_domain_mask": 2,   # grid gen under both join branches
        "micromesh_regrid": 1,        # grid row x col generator
        "micromesh_weights": 1,
        "raster_grid_gen": 1,
        "regrid_synthetic": 2,        # grid gen + ts x node generator
        "regrid_synthetic_bench": 2,
        "regrid_multivar": 2,         # same generators as regrid_synthetic
        "sim_topk_bruteforce": 1,     # broadcast probe ship
        "sim_maxsim_multivector": 1,  # broadcast probe ship (maxsim)
        "sim_topk_pq_adc": 1,         # broadcast probe-table ship
        "sim_topk_pq_rerank": 1,      # same ADC probe-table broadcast
        "sim_topk_ivf": 1,            # centroid broadcast (probe branch;
                                      # assignment reads the materialized
                                      # inverted file)
        "sim_topk_ivfpq": 1,          # same single probe-side broadcast
        "text_tfidf_top": 1,          # single-row corpus-count broadcast
        "text_unigram_logprob": 1,    # single-row corpus-total broadcast
        "text_ppl_buckets": 1,        # same corpus-total broadcast (the
                                      # bucketing rides the unigram LM)
        "text_bigram_logprob": 1,     # single-row vocab-size broadcast
        "agg_heavy_hitters": 1,       # single-row totals broadcast
        "join_relational_division": 1,  # single-row divisor broadcast
        "text_bm25_topk": 3,          # N + avgdl one-row broadcasts
        "text_nb_classify": 3,        # N + V one-row + classes-row broadcasts
        "prep_dsir_weights": 1,       # single-row LM-totals broadcast
        "agg_rfm_segmentation": 1,    # single-row corpus-max-date broadcast
        "events_feature_rollup": 1,   # single-row global-max-ts broadcast
        "events_welch_ttest": 2,      # theta self-join of the k-row
                                      # per-type stat table (both sides
                                      # broadcast-tiny aggregates; the
                                      # events table is scanned once,
                                      # never replicated)
        "events_ks_drift": 2,         # k-distinct-types pair generator
                                      # (theta self-join) + the OR-cond
                                      # pair-dim broadcast onto events;
                                      # both sides bounded by the type
                                      # universe, not data scale
        "tpch_q22_sales_opportunity": 1,  # single-row global-avg broadcast
        "tpch_q11_important_stock": 1,  # single-row threshold broadcast
    }
    spark.catalog.clearCache()
    bad = []
    for name, fn in sorted(registry.all_queries().items()):
        plan = _plan(fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            bad.append(f"{name}: CartesianProduct")
        if plan.count("BroadcastNestedLoopJoin") > bnlj_allowance.get(name, 0):
            bad.append(f"{name}: unexpected BroadcastNestedLoopJoin")
    assert not bad, bad


def test_asof_pick_is_hash_agg_not_sort(spark, sf_dir):
    """The as-of pick must stay a packed-BIGINT max (HashAggregate in
    codegen) — a struct max regresses to SortAggregate and buys two
    per-task sorts of the expanded join output."""
    plan = _plan(relational.join_asof(spark, sf_dir))
    assert "SortAggregate" not in plan
    assert "partial_max" in plan


def test_argmin_family_is_hash_agg_not_sort(spark, sf_dir):
    """Every argmin/argmax pick in the engine must hash-aggregate:
    weights' per-cell triangle pick (per-column min_by, primitive
    buffers), CDC's latest-change extraction (int flag instead of a
    string max_by buffer), and the forward as-of's packed-BIGINT min.
    A struct or string agg buffer silently regresses the aggregate to
    SortAggregate — two per-task sorts of the pre-agg rows, the single
    largest residual plan cost at the reference's 70M-cell raster."""
    from adcirctime2cogs_spark import registry

    qs = registry.all_queries()
    for name in (
        "micromesh_weights",
        "micromesh_regrid",
        "regrid_synthetic_bench",
        "cdc_merge_apply",
        "join_asof_forward",
        "join_asof_nearest",
    ):
        assert "SortAggregate" not in _plan(qs[name](spark, sf_dir)), name


def test_sort_merge_hint_respected(spark, sf_dir):
    from adcirctime2cogs_spark.operators.relational2 import join_sort_merge

    assert "SortMergeJoin" in _plan(join_sort_merge(spark, sf_dir))


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Bucketing co-locates join keys at write time: a join between two
    tables bucketed on the same key plans with NO exchange on either
    side — the 100TB repeated-join pattern."""
    import shutil

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # the metastore is per-session: DROP TABLE alone won't clear a
    # previous session's managed location
    spark.sql("DROP TABLE IF EXISTS b_li")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_li", "b_orders"):
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).saveAsTable("b_li")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("b_orders")
    # hint merge: at fixture size the planner would broadcast (and skip
    # bucket reading entirely); the SMJ path is what buckets exist for
    j = spark.table("b_li").hint("merge").join(
        spark.table("b_orders"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    plan = _plan(j)
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan  # buckets align, no shuffle


def test_join_bucketed_query_has_no_prejoin_exchange(spark, sf_dir):
    """The registered join_bucketed query (not just the machinery test
    above) must read its bucketed tables straight into the
    SortMergeJoin: the ONLY shuffle in the plan is the final 5-group
    priority rollup — zero exchanges between the scans and the join."""
    from adcirctime2cogs_spark.operators.relational2 import join_bucketed

    plan = _plan(join_bucketed(spark, sf_dir))
    assert "SortMergeJoin" in plan
    # one exchange for the groupBy, none for the join sides
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan
    assert "SelectedBucketsCount" in plan  # scans are bucket-aware


def test_orc_scan_pushes_predicate(spark, sf_dir):
    """The ORC scan must carry the quantity bound as a pushed search
    argument — same gate the parquet scans pass, on the other
    columnar format."""
    from adcirctime2cogs_spark.operators.relational2 import scan_orc_pushdown

    plan = _plan(scan_orc_pushdown(spark, sf_dir))
    assert "Format: ORC" in plan
    assert "GreaterThanOrEqual(l_quantity,40.0)" in plan, plan


def test_dpp_join_prunes_fact_partitions(spark, sf_dir):
    """The partitioned-fact join must inject a runtime partition
    filter from the dim side (dynamic partition pruning), so only the
    dim-surviving priority directories are listed/scanned."""
    from adcirctime2cogs_spark.operators.relational2 import (
        join_dpp_partitioned,
    )

    plan = _plan(join_dpp_partitioned(spark, sf_dir))
    assert "dynamicpruningexpression" in plan.lower(), plan


def test_int8_quantize_is_shuffle_free(spark, sf_dir):
    from adcirctime2cogs_spark.operators.similarity import vec_quantize_int8

    spark.catalog.clearCache()
    plan = _plan(vec_quantize_int8(spark, sf_dir))
    # everything is array folds in one narrow projection: no Exchange
    assert "Exchange" not in plan


def test_aqe_splits_skewed_join_partition(spark):
    """The automatic half of the skew story (join_skew_salted is the
    manual half): AQE must detect a hot key's oversized partition at
    runtime and split it — SortMergeJoin(skew=true) in the final
    adaptive plan. Thresholds are lowered to make fixture-scale skew
    visible; production keeps the defaults. The shuffle width is
    pinned too: the hot key's partition (450k copies of one key)
    compresses to a few times the size of an ordinary one, so it
    clears skewedPartitionFactor (5x the median partition) only when
    the other 50k rows spread over enough partitions — measured at
    local[4]: 4 or 8 partitions stay under 5x, 32 clear it."""
    tuned = {
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        big = spark.range(500_000).selectExpr(
            "CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k",
            "id AS payload",
        )
        dim = spark.range(1_000).selectExpr("id AS k", "id * 2 AS attr")
        joined = big.join(dim, "k").groupBy().count()
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:800]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_zorder_key_matches_python_interleave(spark):
    """The shift-mask cascade must equal a bit-by-bit reference
    interleave for random coordinates."""
    import random

    from adcirctime2cogs_spark.functions.spatial import BITS, zorder_key

    rng = random.Random(3)
    bbox = (0.0, 0.0, 1.0, 1.0)
    pts = [(rng.random(), rng.random()) for _ in range(200)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    got = [
        r.zkey
        for r in df.select(zorder_key(F.col("lon"), F.col("lat"), bbox))
        .collect()
    ]

    def interleave(x, y):
        out = 0
        for b in range(BITS):
            out |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return out

    scale = (1 << BITS) - 1
    want = [interleave(int(x * scale), int(y * scale)) for x, y in pts]
    assert got == want


def test_zorder_write_prunes_bbox_scans(spark, tmp_path):
    """Z-order layout: a bbox filter over the Morton-clustered mesh
    parquet must skip most row groups on lon/lat min/max stats — the
    2-D analogue of the sorted-write time-skipping test below. File-
    order (spatially random) writes can't prune at all, so the gate is
    relative: the clustered scan reads a small fraction of the rows."""
    import random

    from adcirctime2cogs_spark.functions.spatial import write_zordered

    rng = random.Random(7)
    pts = [(i, rng.uniform(-80.0, -60.0), rng.uniform(20.0, 40.0))
           for i in range(120_000)]
    nodes = spark.createDataFrame(pts, "node_id long, lon double, lat double")
    out = str(tmp_path / "nodes_z")
    write_zordered(nodes, out, bbox=(-80.0, 20.0, -60.0, 40.0),
                   n_files=4, row_group_bytes=64 * 1024)

    df = spark.read.parquet(out).filter(
        (F.col("lon") >= -71.0) & (F.col("lon") <= -69.0)
        & (F.col("lat") >= 29.0) & (F.col("lat") <= 31.0)
    )
    df.collect()
    scan = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    rows_read = scan.metrics().apply("numOutputRows").value()
    # the bbox is 1% of the domain area; stats pruning must cut the
    # scan to well under a quarter of the table
    assert rows_read < 30_000, f"z-ordered scan read {rows_read}/120000 rows"


def test_sorted_write_enables_rowgroup_skipping(spark, sf_dir, tmp_path):
    """Range-partition + sort-within on the time column, then read with
    a narrow time filter: parquet min/max stats must prune most row
    groups (the scan's numOutputRows is a fraction of the table). This
    is the data-layout half of scan efficiency at 100 TB — and it pins
    TIMESTAMP_MICROS output, because INT96 carries no stats at all."""
    events = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "ev_sorted")
    (
        events.repartitionByRange(8, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(out)
    )
    total = events.count()
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    cutoff = lo + (hi - lo) / 20
    df = spark.read.parquet(out).filter(F.col("ts") <= cutoff)
    df.collect()
    scan = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    rows_read = scan.metrics().apply("numOutputRows").value()
    assert rows_read < total / 2, f"scan read {rows_read}/{total}: no skipping"


def test_new_tpch_plan_shapes(spark, sf_dir):
    """Plan gates for the round-5 TPC-H completions — each asserts the
    shape the docstring promises for 100 TB, so a refactor that demotes
    a broadcast to a shuffle or re-introduces a correlated re-scan
    fails here, not in the bench."""
    from adcirctime2cogs_spark.operators import tpch

    # Q8: every dim ships as a broadcast; the only SMJ-eligible join
    # (lineitem x orders) may stay a hash join at fixture size, but no
    # cartesian and no sort aggregate anywhere
    plan = _plan(tpch.tpch_q8_market_share(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "SortAggregate" not in plan

    # Q9: part and supplier-nation broadcast; profit computed before
    # the single (nation, year) hash agg — exactly one agg exchange
    plan = _plan(tpch.tpch_q9_product_profit(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortAggregate" not in plan

    # Q11: the global threshold is the allowlisted one-row broadcast,
    # not a join re-scan of ps
    plan = _plan(tpch.tpch_q11_important_stock(spark, sf_dir))
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan

    # Q16: NOT IN planned as LeftAnti (suppkey is non-null)
    plan = _plan(tpch.tpch_q16_supplier_count(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan

    # Q20: both membership chains are semi-joins — no distinct-then-
    # inner rewrite that would duplicate suppliers
    plan = _plan(tpch.tpch_q20_excess_stock(spark, sf_dir))
    assert plan.count("LeftSemi") >= 2

    # Q21: the grouped rewrite — one left join + one hash agg, never
    # the double correlated EXISTS/NOT-EXISTS self-scan (which would
    # show as extra lineitem scans); supplier names ship broadcast
    plan = _plan(tpch.tpch_q21_waiting_orders(spark, sf_dir))
    assert "SortAggregate" not in plan
    assert plan.count("BroadcastHashJoin") >= 1
    # 2 lineitem reads (pairs + late), not 3+
    assert plan.count("Scan parquet") <= 4  # lineitem x2 + orders + supplier


def test_min_selection_rewrites_scan_fact_once(spark, sf_dir):
    """Q2/Q15/Q17's window rewrites exist to kill the duplicate fact
    scan the agg-then-join-back decorrelation planned (per-branch
    column pruning defeats ReuseExchange). Execute and count scans in
    the FINAL adaptive plan — the pre-execution plan would show the
    un-reused shape and pass vacuously."""
    import re
    from collections import Counter

    from adcirctime2cogs_spark.operators import tpch

    from adcirctime2cogs_spark.operators import (
        eventwindows,
        graphops,
        relational2,
        textstats,
    )

    for fn, table, limit in [
        (tpch.tpch_q2_min_cost_supplier, "lineitem", 1),
        (tpch.tpch_q15_top_supplier, "lineitem", 1),
        (tpch.tpch_q17_small_qty_revenue, "lineitem", 1),
        (tpch.tpch_q11_important_stock, "lineitem", 1),
        (relational2.tpch_q18_large_volume, "lineitem", 1),
        (eventwindows.events_markov_transitions, "events", 1),
        (eventwindows.events_retention_cohorts, "events", 1),
        (graphops.agg_heavy_hitters, "events", 1),
        # documents twice: the tokenize pass + the pruned N count scan
        (textstats.text_bm25_topk, "documents", 2),
        (textstats.text_tfidf_top, "documents", 2),
    ]:
        df = fn(spark, sf_dir)
        df.collect()
        final = _plan(df).split("== Initial Plan ==")[0]
        scans = Counter(
            re.findall(r"Scan parquet[^\n]*?/(\w+)\.parquet", final)
        )
        assert scans[table] <= limit, (fn.__name__, dict(scans))


def test_no_data_scale_global_window(spark, sf_dir):
    """Suite-wide hygiene (review r12): a Window with NO partition
    spec funnels every input row through one reducer — the scale
    failure the distwindow parallel scan exists to avoid. Global
    windows are allowed only where their input is constant-size by
    construction: the post-TakeOrdered rank stamp (<= 50 rows) and the
    distwindow offsets combine (one row per bucket). Detection: in the
    physical Window node's printed form the group after the function
    list is the PARTITION columns — if it contains sort directions the
    partition list is absent and the window is global."""
    from adcirctime2cogs_spark import registry

    def bracket_groups(s):
        out, depth, cur = [], 0, None
        for ch in s:
            if ch == "[":
                depth += 1
                if depth == 1:
                    cur = []
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    out.append("".join(cur))
                    cur = None
                    continue
            if cur is not None:
                cur.append(ch)
        return out

    allowance = {
        "text_bm25_topk": 1,        # rank stamp over the 25-row limit
        "text_bpe_pair_counts": 1,  # rank stamp over the 50-row limit
        "text_pack_sequences": 1,   # distwindow offsets: <= 32 rows
        "agg_rfm_segmentation": 3,  # three distwindow offset combines
    }
    bad = []
    for name, fn in sorted(registry.all_queries().items()):
        plan = _plan(fn(spark, sf_dir))
        n_global = 0
        for line in plan.splitlines():
            if "Window " not in line:
                continue
            tail = line[line.find("Window ") + len("Window "):]
            groups = bracket_groups(tail)
            if len(groups) >= 2 and (
                "ASC" in groups[1] or "DESC" in groups[1]
            ):
                n_global += 1
        if n_global > allowance.get(name, 0):
            bad.append(f"{name}: {n_global} global window(s)")
    assert not bad, (
        "data-scale single-partition windows (use "
        f"functions/distwindow or partition the window): {bad}"
    )
