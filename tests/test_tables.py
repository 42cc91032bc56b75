"""tables.py layout-artifact helpers: drop_layouts anchoring and the
driver-side scan-split estimate that replaced the .rdd partition probe
(round-9 advice fixes)."""

from __future__ import annotations

import os

from adcirctime2cogs_spark.tables import (
    _scan_split_estimate,
    _size_conf,
)
from adcirctime2cogs_spark.tables import _src_hash, drop_layouts, load_table


def _warehouse(spark) -> str:
    return spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")


def test_drop_layouts_matches_only_full_layout_shape(spark, tmp_path):
    """The reap must be anchored to the layout_once dir shape
    (<name>_<src>-<8hex>[.tmp-<8hex>]) — a bare substring test would
    rmtree unrelated warehouse entries that merely embed the pattern."""
    fake_src_dir = str(tmp_path / "ephemeral_corpus")
    os.makedirs(fake_src_dir)
    src = _src_hash(fake_src_dir)
    wh = _warehouse(spark)
    os.makedirs(wh, exist_ok=True)
    reaped = [
        f"pq_codes_{src}-0123abcd",
        f"ivf_file_{src}-deadbeef.tmp-00ff00ff",
    ]
    kept = [
        # embeds '_{src}-' but with trailing junk past the tag shape —
        # the exact false-positive class the advice flagged
        f"other_{src}-0123abcd_suffix",
        # 7-hex version: not a layout_once tag
        f"name_{src}-0123abc",
        # tmp marker without its 8-hex suffix
        f"pq_codes_{src}-0123abcd.tmp-xyz",
    ]
    for e in reaped + kept:
        os.makedirs(os.path.join(wh, e, "x"), exist_ok=True)
    try:
        drop_layouts(spark, fake_src_dir)
        for e in reaped:
            assert not os.path.exists(os.path.join(wh, e)), e
        for e in kept:
            assert os.path.exists(os.path.join(wh, e)), e
    finally:
        import shutil

        for e in kept:
            shutil.rmtree(os.path.join(wh, e), ignore_errors=True)


def test_scan_split_estimate_matches_rdd_probe(spark, sf_dir):
    """Decision parity with the probe it replaced: on the fixture
    documents table the driver-side packing arithmetic must yield the
    scan's actual partition count — so _doc_ids' repartition decision
    (and therefore every media consumer's plan) is unchanged."""
    path = os.path.join(sf_dir, "documents.parquet")
    est = _scan_split_estimate(spark, path)
    ids = load_table(spark, sf_dir, "documents").select("doc_id")
    actual = ids.rdd.getNumPartitions()
    assert est == actual
    target = spark.sparkContext.defaultParallelism
    assert (est < target) == (actual < target)


def test_scan_split_estimate_multifile_dataset(spark, tmp_path):
    """A directory-shaped dataset with several part files must also
    match the scan's split count (exercises the per-file chunking and
    openCost packing, not just the single-file path)."""
    out = str(tmp_path / "many.parquet")
    spark.range(0, 100_000).repartition(7).write.parquet(out)
    est = _scan_split_estimate(spark, out)
    actual = spark.read.parquet(out).rdd.getNumPartitions()
    assert est == actual


def test_size_conf_suffix_forms(spark):
    assert _size_conf(spark, "no.such.key.plain", 42) == 42
    spark.conf.set("x.test.bytes", "128m")
    assert _size_conf(spark, "x.test.bytes", 0) == 128 << 20
    spark.conf.set("x.test.bytes", "4194304")
    assert _size_conf(spark, "x.test.bytes", 0) == 4194304
    spark.conf.set("x.test.bytes", "1gb")
    assert _size_conf(spark, "x.test.bytes", 0) == 1 << 30
    spark.conf.set("x.test.bytes", "not-a-size")
    assert _size_conf(spark, "x.test.bytes", 7) == 7


def test_scan_split_estimate_parity_across_confs(spark, tmp_path):
    """Review-fix pin: the estimate must track FilePartition's exact
    arithmetic — pad AFTER the close test, global length-descending
    chunk order, zero-length files dropped — across adversarial
    maxPartitionBytes/openCostInBytes combinations where the earlier
    pad-inside-the-test version over-counted (e.g. two files of
    500k/300k under a 1 MiB split with 200 KiB open cost must pack
    into ONE partition)."""
    out = str(tmp_path / "mix.parquet")
    spark.range(0, 400_000).repartition(5).write.parquet(out)
    keys = ("spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes")
    old = {k: spark.conf.get(k) for k in keys}
    try:
        for max_pb, oc in (
            (1 << 20, 200 << 10),
            (256 << 10, 4 << 20),
            (150 << 10, 1 << 10),
            (128 << 20, 4 << 20),
            (64 << 10, 0),
        ):
            spark.conf.set(keys[0], str(max_pb))
            spark.conf.set(keys[1], str(oc))
            est = _scan_split_estimate(spark, out)
            actual = spark.read.parquet(out).rdd.getNumPartitions()
            assert est == actual, (max_pb, oc, est, actual)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_memo_eviction_drops_foreign_applications(monkeypatch):
    """ADVICE r10: the session memo must not accumulate entries for
    stopped applications in a long-lived driver that cycles sessions.
    A miss drops every entry other applications recorded, scoped
    (layout paths, persisted frames) or not (the synthetic weights);
    this application's entries stay."""
    from types import SimpleNamespace

    from adcirctime2cogs_spark import memo

    store = {
        ("w", None): ("app-dead-1", -1, "w1"),
        ("layout", "/base"): ("app-dead-2", -1, ("m", "p")),
        ("w:100:10:0.5", None): ("app-live", -1, "w2"),
    }
    monkeypatch.setattr(memo, "_SESSION_MEMO", store)
    live = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-live"))
    assert memo.get(live, "w", None, lambda: "w3") == "w3"
    assert store == {
        ("w:100:10:0.5", None): ("app-live", -1, "w2"),
        ("w", None): ("app-live", -1, "w3"),
    }


def test_spread_scan_under_split_guard(spark, sf_dir, tmp_path):
    """Optimization r12 (guide §2.5 input skew): spread_scan must
    round-robin an under-split scan to the default parallelism —
    the single-row-group fixture files otherwise run every
    scan-rooted narrow pipeline as ONE task — and be the IDENTITY on
    a well-split input (no shuffle added on production layouts).
    Row content must be preserved exactly."""
    import os

    from adcirctime2cogs_spark.tables import load_table, spread_scan

    path = os.path.join(sf_dir, "documents.parquet")
    docs = load_table(spark, sf_dir, "documents")
    spread = spread_scan(spark, docs, path)
    assert (
        spread.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    assert (
        spread.exceptAll(docs).count() == 0
        and docs.exceptAll(spread).count() == 0
    )
    # well-split twin: force tiny split sizing so the estimate says
    # the scan already reaches the target -> identity (same object)
    out = str(tmp_path / "wellsplit.parquet")
    spark.range(0, 200_000).repartition(8).write.parquet(out)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 << 10))
        df = spark.read.parquet(out)
        assert spread_scan(spark, df, out) is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
