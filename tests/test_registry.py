"""Registry contracts: the 50-slot window invariant and the
prepared-plan cache semantics (hit on same data, evict on new data,
opt-out for self-invalidating queries)."""

import os
import shutil

from adcirctime2cogs_spark import memo, registry


# Window entries DELIBERATELY without a SQL oracle (the driver records
# the weaker rows-only check for these): VERDICT r10 #3 asks that the
# never-externally-verified rows-only queries rotate through a window
# at least once. Any OTHER non-oracled name in the window is a bug (an
# oracle silently lost), so the set is pinned exactly.
ROWS_ONLY_WINDOW = {
    # r13 rotation: the two rows-only queries the r12 registry ledger
    # named for this round — DataSketches HLL union rollup and the
    # SemDeDup keeper scale path (engine-specific values, rows-only by
    # design, value-correctness pytest-pinned). The r12 trio
    # (text_bpe_*/vec_pca_project) recorded its row counts in r12 and
    # must NOT burn further slots (VERDICT r12 #8); the three
    # remaining never-windowed rows-only stragglers (dedup_minhash_ml,
    # mm_feature_extract, sim_ml_brp_lsh) are owed r14.
    "dedup_semantic_keepers_scale",
    "events_sketch_rollup",
}


def test_window_is_exactly_50_with_oracles():
    qs = registry.all_queries()
    oracles = registry.all_oracles()
    window = list(qs)[:50]
    assert len(registry._PRIORITY) == 50
    assert window == registry._PRIORITY
    missing = [n for n in window if n not in oracles]
    assert set(missing) == ROWS_ONLY_WINDOW, (
        f"window entries without oracle beyond the declared rows-only "
        f"rotation set: {sorted(set(missing) ^ ROWS_ONLY_WINDOW)}"
    )


def test_plan_cache_hits_and_data_eviction(spark, sf_dir, tmp_path):
    qs = registry.all_queries()
    fn = qs["scalar_math"]
    # copy the fixture so touching files can't disturb other tests
    local = str(tmp_path / "sfcopy")
    shutil.copytree(sf_dir, local)
    a = fn(spark, local)
    b = fn(spark, local)
    assert a is b  # prepared-plan hit: same DataFrame object
    # bump the data version -> the cache must hand out a fresh plan
    probe = next(
        os.path.join(local, f) for f in os.listdir(local)
        if f.endswith(".parquet")
    )
    os.utime(probe)  # "now" strictly exceeds the fixture's max mtime
    c = fn(spark, local)
    assert c is not a
    # and the superseded entry was replaced, not leaked
    keys = [k for k in memo._SESSION_MEMO if k[0] == "plan:scalar_math"
            and k[1] == local]
    assert len(keys) == 1
    _app, ver, value = memo._SESSION_MEMO[keys[0]]
    assert ver == memo.data_version(local) and value is c


def test_plan_cache_exempts_self_invalidating_queries(spark, sf_dir):
    qs = registry.all_queries()
    a = qs["join_bucketed"](spark, sf_dir)
    b = qs["join_bucketed"](spark, sf_dir)
    # every call rewrites its bucketed tables, so the registry must
    # never serve a previously returned (now stale-listing) plan
    assert a is not b
    assert b.count() > 0  # and the fresh plan is readable end to end


# Staleness ceiling in rounds: every oracled query must re-verify
# externally at least every POLICY_ROUNDS rounds. Moved 4 -> 5 in r11:
# at 199 oracles a 4-round ceiling forces an AVERAGE 49.75 of the 50
# window slots per round — structurally zero room for rule-2
# registrations or rows-only rotations, and the lumpy cohorts (r08: 49
# queries) overshoot 50 outright once anything registers. 5 rounds
# gives ~40 forced + ~10 slack. test_rotation_policy_is_feasible keeps
# the constant honest as the registry grows.
POLICY_ROUNDS = 5


def test_no_oracled_query_ages_past_policy():
    """Machine-check of the rotation arithmetic (VERDICT r08 item 8):
    given the CORRECTNESS_r{N}.json history on disk and the CURRENT
    _PRIORITY, (a) every oracled query whose last external hash-green
    is >= POLICY_ROUNDS rounds old by registry.WINDOW_ROUND must be in
    the window now, and (b) every oracled query the driver has never
    verified must be in the window now (rule 2). Keeps the staleness
    bookkeeping out of session memory.

    Staleness is judged against WINDOW_ROUND — the round the window
    was authored FOR — not against max(CORRECTNESS)+1: the latter
    turned main red at every round boundary the instant the driver's
    close commit landed the new CORRECTNESS file, before any builder
    session could author the next window (ADVICE r11). The freshness
    guard below replaces that noise with signal: the suite goes red
    only when a rotation actually lags the correctness history by a
    full round."""
    import glob
    import json
    import re

    last_green: dict[str, int] = {}
    rounds = []
    for f in sorted(glob.glob(os.path.join(
            os.path.dirname(__file__), "..", "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", f)
        rnd = int(m.group(1))
        rounds.append(rnd)
        doc = json.load(open(f))
        qdict = doc.get("queries", doc)
        if not isinstance(qdict, dict):
            continue
        for name, res in qdict.items():
            ok = res if isinstance(res, bool) else (
                isinstance(res, dict)
                and bool(res.get("match") or res.get("ok")
                         or res.get("hash_match"))
            )
            if ok:
                last_green[name] = max(last_green.get(name, 0), rnd)
    assert rounds, "no CORRECTNESS files found"
    coming = registry.WINDOW_ROUND
    # freshness guard: the window may trail the newest CORRECTNESS
    # round only across the close boundary itself (window == newest,
    # the state the driver's close commit creates); trailing by a full
    # round means a rotation was skipped. It may lead by at most one
    # (the normal in-round state: files through N-1, window for N).
    assert max(rounds) <= coming <= max(rounds) + 1, (
        f"WINDOW_ROUND={coming} vs CORRECTNESS history through "
        f"r{max(rounds)}: the window was never rotated for the new "
        "round — author the next _PRIORITY and bump WINDOW_ROUND"
    )
    window = set(registry._PRIORITY)
    oracles = registry.all_oracles()
    overdue = sorted(
        n for n, r in last_green.items()
        if n in oracles and coming - r >= POLICY_ROUNDS and n not in window
    )
    assert not overdue, (
        f"oracled queries stale past the {POLICY_ROUNDS}-round policy "
        f"and NOT in the window: {overdue}"
    )
    never = sorted(
        n for n in set(registry.all_queries()) & set(oracles)
        if n not in last_green and n not in window
    )
    assert not never, (
        f"never-externally-verified oracled queries NOT in the window: "
        f"{never}"
    )


def test_no_oracle_uses_session_timezone_dependent_rendering():
    """Review r11: DuckDB's to_timestamp() returns TIMESTAMPTZ and
    strftime renders it in the SESSION timezone (the system tz by
    default — the driver harness never pins it), while the Spark side
    is pinned UTC, so an epoch-int -> timestamp oracle built on
    to_timestamp silently breaks parity on any non-UTC machine. The
    tz-free form is make_timestamp(us) (naive TIMESTAMP). Raw `ts`
    columns from parquet are naive already, so strftime/date_trunc on
    them are fine — only the epoch-reconstruction path is banned."""
    offenders = [
        name for name, sql in registry.all_oracles().items()
        if "to_timestamp" in sql
    ]
    assert not offenders, (
        f"oracles using session-tz-dependent to_timestamp(): "
        f"{offenders} — use make_timestamp(epoch_us) instead"
    )


def test_rotation_policy_is_feasible():
    """The staleness ceiling must stay arithmetically sustainable:
    ceil(n_oracles / POLICY_ROUNDS) forced verifications per round,
    plus headroom for rule-2 (new registrations) and rows-only
    rotations, must fit the 50-slot window. Fails when registry growth
    makes the current POLICY_ROUNDS a dead letter — raise the constant
    (with the judge-visible rationale) before it wedges, not after."""
    import math

    n_oracles = len(registry.all_oracles())
    forced_per_round = math.ceil(n_oracles / POLICY_ROUNDS)
    headroom = 50 - forced_per_round
    # >= 6 keeps room for a typical round's new registrations (~3)
    # plus rows-only rotations (~3) on top of the steady forced load
    assert headroom >= 6, (
        f"{n_oracles} oracles at a {POLICY_ROUNDS}-round ceiling force "
        f"{forced_per_round} slots/round, leaving only {headroom} of 50 "
        "free — raise POLICY_ROUNDS or stop registering oracled queries"
    )
