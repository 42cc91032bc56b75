"""Central query/oracle registry.

Operator modules self-register into module-level QUERIES/ORACLES dicts;
this module merges them. Import order is the §2 build order. Modules
are imported lazily and defensively so one broken optional dependency
never takes down the whole registry.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from adcirctime2cogs_spark import memo

QueryFn = Callable[[SparkSession, str], DataFrame]

_OPERATOR_MODULES = [
    "adcirctime2cogs_spark.plans.domain_queries",
    "adcirctime2cogs_spark.plans.synthetic_queries",
    "adcirctime2cogs_spark.operators.dedup",
    "adcirctime2cogs_spark.operators.similarity",
    "adcirctime2cogs_spark.operators.textstats",
    "adcirctime2cogs_spark.operators.dataprep",
    "adcirctime2cogs_spark.operators.eventwindows",
    "adcirctime2cogs_spark.operators.udfs",
    "adcirctime2cogs_spark.operators.multimodal",
    "adcirctime2cogs_spark.operators.relational",
    "adcirctime2cogs_spark.operators.relational2",
    "adcirctime2cogs_spark.operators.tpch",
    "adcirctime2cogs_spark.operators.graphops",
    "adcirctime2cogs_spark.streaming.parity",
]

# External harnesses verify only the FIRST 50 registry entries, so the
# emission order is part of the contract. Rotation policy (stated after
# the round-5 advice): (1) every query MODIFIED OR ADDED in the current
# round stays in-window — a plan/oracle rewrite with only local
# verification must not ship unexamined; (2) then every oracled query
# the driver has NEVER hash-verified; (3) the remaining slots refresh
# the STALEST external greens (oldest round first). Rotated-out queries
# stay covered by tests/test_oracle_parity.py's all-oracle sweep.
# The round this _PRIORITY window was authored FOR. Bumped with every
# rotation; tests/test_registry.py checks the window satisfies the
# staleness policy for THIS round (not for max(CORRECTNESS)+1, which
# turned main red at every round boundary the moment the driver's
# close commit landed CORRECTNESS_r{N} — ADVICE r11). The companion
# freshness guard (WINDOW_ROUND >= newest CORRECTNESS round) turns
# red only when a rotation actually skipped a round.
WINDOW_ROUND = 13

_PRIORITY = [
    # Round-13 rotation (coming=13; POLICY_ROUNDS=5). Slot arithmetic:
    # 21 rule-1 (modified this round; scan_orc_pushdown is a 22nd,
    # counted in the forced block it already occupies) + 17 rule-3
    # policy-forced r08 carries + 2 rule-2 rows-only rotations the
    # r12 ledger named + 10 rule-3 staleness fills (alphabetical
    # prefix of the r09 cohort) = 50 exactly. The remaining r09 names
    # are due r14
    # (5-round line) beside the three never-windowed rows-only
    # stragglers (dedup_minhash_ml, mm_feature_extract,
    # sim_ml_brp_lsh); the r10 cohort's natural due date is r15.
    #
    # (1) modified this round — optimization r13's exact-decimal
    # migration (VERDICT r12 item 2): every r4(sum(double))-over-
    # scale-growing-groups oracle query now sums money/value as exact
    # decimals (q1's r11 discipline; fold-order-independent at any
    # scale — tests/test_fold_order_free.py), and join_star_revenue's
    # under-split scan is spread. Also dedup_minhash_lsh_pairs: the
    # Jaccard denominators now RIDE the candidate pipeline instead of
    # two post-count sort-merge join-backs (4 SMJ -> 0, byte-identical
    # pairs). And prep_dsir_weights: its documents scan is now spread
    # (the tokenize+hash projection dominates; per-doc groups are
    # bounded, so partitioning is value-neutral — rows identical).
    # All twelve re-verify externally:
    "prep_dsir_weights",
    "dedup_minhash_lsh_pairs",
    "join_star_revenue",
    "join_left_outer",
    "events_tumbling_window",
    "events_session_window",
    "tpch_q5_local_supplier",
    "tpch_q6_revenue_forecast",
    "tpch_q7_volume_shipping",
    "tpch_q10_returned_items",
    "tpch_q14_promo_effect",
    "tpch_q19_disjunctive_pred",
    # (1) also migrated: the acctbal/avg rollup family — the rollup/
    # cube coarse cells span the table at scale, same fragility class:
    "agg_rollup",
    "agg_grouping_sets",
    "agg_cube",
    # (1) third wave of the same migration — every remaining
    # 2dp-exact double sum over scale-growing groups
    # (scan_orc_pushdown is modified too; it already sits in the
    # policy-forced block below):
    "date_trunc_agg",
    "join_skew_salted",
    "join_dpp_partitioned",
    "events_gap_fill_locf",
    # (3, policy-forced) the 17 r08 greens the r12 registry comment
    # carried to this round (5-round line; machine-checked by
    # test_no_oracled_query_ages_past_policy):
    "agg_approx_quantiles",
    "agg_rfm_segmentation",
    "cdc_merge_apply",
    "crs_reproject_bng",
    "crs_reproject_ups",
    "events_funnel",
    "graph_triangle_count",
    "join_bucketed",
    "mm_binary_meta",
    "mm_frame_sample",
    "mm_png_roundtrip",
    "prep_chunk_windows",
    "prep_seeded_shuffle",
    "scan_orc_pushdown",
    "udaf_grouped_pandas",
    "udtf_expand_rows",
    "vec_matryoshka_truncate",
    # (2) the two rows-only rotations the r12 ledger explicitly named
    # for r13 (never externally recorded in any round; engine-specific
    # values — DataSketches HLL union, SemDeDup keeper scale path —
    # pytest-pinned, rows-only by design):
    "dedup_semantic_keepers_scale",
    "events_sketch_rollup",
    # (3) staleness fills — alphabetical prefix of the r09 cohort
    # (deterministic pick minus the five last alphabetical names,
    # displaced by the rule-1 LSH/DSIR/rollup-family slots; they join
    # the 30 remaining r09 names due r14):
    "agg_boolean_flags",
    "cdc_rollup_refresh",
    "crs_reproject_laea",
    "dedup_containment_pairs",
    "dedup_corpus_emit",
    "dedup_semantic_keepers",
    "dedup_semantic_pairs",
    "events_anomaly_zscore",
    "events_dedup_first",
    "events_feature_rollup",
    "events_gaps_islands",
    "events_multires_rollup",
]


def _modules():
    for modname in _OPERATOR_MODULES:
        try:
            yield importlib.import_module(modname)
        except ImportError as exc:
            # only a genuinely OPTIONAL third-party dependency may
            # drop a module; an ImportError rooted in this package,
            # pyspark, or the always-present libs is a bug that would
            # otherwise silently shrink the registry and the oracle
            # sweep's coverage
            root = (exc.name or "").split(".")[0]
            if root in {
                "adcirctime2cogs_spark", "pyspark", "pandas", "numpy", ""
            }:
                raise
            continue


def _plan_cached(name: str, fn: QueryFn) -> QueryFn:
    """Prepared-plan cache: repeat invocations of the same query against
    the same (application, data version) reuse the constructed
    DataFrame, stored in the session memo under ("plan:<name>",
    sf_dir).

    Query construction is driver-side Python plus a full Catalyst
    ANALYSIS pass — measured 0.3-0.5 s for the deep domain/dedup plans,
    often exceeding their execution time at bench scale. Every serious
    engine caches prepared statements/plans; Spark DataFrames make it
    trivial because a DataFrame IS an immutable logical plan — handing
    the same object back re-optimizes and re-executes against current
    data on every action. The memo's data-version check evicts on
    fixture regeneration (a stale ANALYZED plan pins a stale file
    listing).

    The first call per (application, data) still pays full
    construction — the driver's one-shot correctness harness is
    unaffected; bench min-of-3 loops and repeated interactive use hit
    the cache, which is exactly the prepared-statement contract."""
    import functools

    if getattr(fn, "_no_plan_cache", False):
        # a query whose CONSTRUCTION mutates on-disk state that
        # retroactively invalidates previously returned plans (e.g.
        # join_bucketed rewrites its bucketed tables every call) must
        # hand out a fresh plan every time
        return fn

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        return memo.get(spark, f"plan:{name}", sf_dir,
                        lambda: fn(spark, sf_dir))

    return wrapped


def all_queries() -> dict[str, QueryFn]:
    merged: dict[str, QueryFn] = {}
    for mod in _modules():
        dupes = merged.keys() & mod.QUERIES.keys()
        if dupes:
            raise ValueError(f"duplicate query names in {mod.__name__}: {sorted(dupes)}")
        merged.update({k: _plan_cached(k, fn) for k, fn in mod.QUERIES.items()})
    # The driver oracle-checks exactly the first 50 registry entries; a
    # typo'd _PRIORITY name or a silently-failed module import would
    # demote a query out of the verified window — fail loudly instead.
    missing = [name for name in _PRIORITY if name not in merged]
    if missing:
        raise ValueError(f"_PRIORITY names not in registry: {missing}")
    if len(_PRIORITY) != 50:
        raise ValueError(f"_PRIORITY must pin exactly 50 names, got {len(_PRIORITY)}")
    out: dict[str, QueryFn] = {}
    for name in _PRIORITY:
        out[name] = merged.pop(name)
    out.update(merged)
    return out


def all_oracles() -> dict[str, str]:
    from adcirctime2cogs_spark.functions.numeric import expand_round_sql

    out: dict[str, str] = {}
    for mod in _modules():
        dupes = out.keys() & mod.ORACLES.keys()
        if dupes:
            raise ValueError(
                f"duplicate oracle names in {mod.__name__}: {sorted(dupes)}"
            )
        # round(X, 4) in oracle SQL is expanded to the engine-exact
        # floor form (see functions/numeric.py) — DuckDB's double
        # round() mis-rounds at half-boundaries.
        out.update({k: expand_round_sql(v) for k, v in mod.ORACLES.items()})
    return out
