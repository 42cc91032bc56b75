"""End-to-end tests for the corpus-prep pipeline CLI
(adcirctime2cogs_spark/corpus_pipeline.py): planted-defect removal,
stage toggles, determinism, and decontamination cross-checked against
the registered oracled query's semantics."""

import json
import os

import pytest
from pyspark.sql import functions as F

from adcirctime2cogs_spark.corpus_pipeline import (
    STAGES,
    _decontaminate,
    run_corpus_pipeline,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")



def _stage_dir(root, suffix: str) -> str:
    """Resolve a stage checkpoint dir by its stage-name suffix — the
    numeric prefix is the enumerate index over STAGES and shifts
    whenever a stage is inserted."""
    work = os.path.join(str(root), "work")
    return next(
        os.path.join(work, d) for d in os.listdir(work)
        if d.endswith("_" + suffix)
    )

def _planted_input(spark, out_dir: str) -> None:
    """sf0.001 documents plus two planted defects: an exact duplicate
    of doc 7 under a fresh id, and a PII-bearing doc."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    base = docs.limit(0)
    dup = (
        docs.filter(F.col("doc_id") == 7)
        .withColumn("doc_id", F.lit(900001).cast("bigint"))
    )
    # 40 tokens, all-distinct 3-grams, stopword-rich: passes every
    # quality_verdict gate (n>=20, rep<=0.05, q>=0.45) so the doc is
    # guaranteed to REACH the pii_scrub stage — a shorter plant would
    # die at quality and leave the scrub assertion vacuous
    pii = spark.createDataFrame(
        [
            (
                900002,
                "please contact alice@example.org or call 555-0199 if "
                "the delivery of the old boat is delayed because the "
                "harbor crew and the dock master keep a detailed log "
                "of every crossing and the tide tables guide the "
                "schedule for the season",
                "en",
                "web",
            )
        ],
        "doc_id bigint, text string, lang string, source string",
    ).withColumn("n_chars", F.length("text").cast("bigint"))
    union = docs.unionByName(dup).unionByName(pii.select(*docs.columns))
    union.write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )
    assert base.columns == union.columns


@pytest.fixture(scope="module")
def pipe_run(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("corpus_pipe")
    _planted_input(spark, str(root / "input"))
    cfg = {
        "input_dir": str(root / "input"),
        "work_dir": str(root / "work"),
        "out_dir": str(root / "out"),
        # keep the corpus large enough to assert on: the synthetic
        # fixture has heavy cross-bucket shingle overlap, so the
        # decontamination default would drop most of it (its semantics
        # are pinned separately below)
        "stages": {"decontaminate": False},
        "shards": {"n_shards": 4},
    }
    manifest = run_corpus_pipeline(spark, cfg)
    return root, cfg, manifest


def test_pipeline_removes_planted_exact_dup(spark, pipe_run):
    root, _, manifest = pipe_run
    stage_out = spark.read.parquet(
        os.path.join(_stage_dir(root, "exact_dedup"), "documents.parquet")
    )
    ids = {r.doc_id for r in stage_out.select("doc_id").collect()}
    assert 7 in ids  # keep-first: the lower id survives
    assert 900001 not in ids  # the planted copy is dropped
    exact = next(s for s in manifest["stages"] if s["stage"] == "exact_dedup")
    assert exact["dropped"] >= 1
    # and the final corpus holds no exact text duplicates at all
    final = spark.read.parquet(str(root / "out" / "shards"))
    assert final.count() == final.select("text").distinct().count()


def test_pipeline_scrubs_pii_from_text(spark, pipe_run):
    root, _, _ = pipe_run
    # assert on the scrub stage's own checkpoint: the planted doc is
    # built to survive quality, but the later source-cap stage (top-N
    # per source) may legitimately drop it before the final shards
    scrubbed = spark.read.parquet(
        os.path.join(_stage_dir(root, "pii_scrub"), "documents.parquet")
    )
    planted = scrubbed.filter(F.col("doc_id") == 900002).collect()
    assert planted, "planted PII doc must reach the scrub stage"
    assert "[EMAIL]" in planted[0].text and "[PHONE]" in planted[0].text
    assert "alice@example.org" not in planted[0].text
    assert "555-0199" not in planted[0].text
    assert planted[0].n_chars == len(planted[0].text)
    # and nothing PII-shaped leaks into the final emitted shards
    final = spark.read.parquet(str(root / "out" / "shards"))
    hits = final.filter(
        F.col("text").rlike(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+")
        | F.col("text").rlike(r"[0-9]{3}-[0-9]{4}")
    ).count()
    assert hits == 0


def test_pipeline_manifest_counts_monotone_and_card(spark, pipe_run):
    root, _, manifest = pipe_run
    counts = [manifest["rows_in"]] + [
        s["rows_out"] for s in manifest["stages"]
    ]
    assert counts == sorted(counts, reverse=True)
    assert manifest["rows_out"] == counts[-1] > 0
    card = json.load(open(manifest["card_path"]))
    assert card["rows"] == manifest["rows_out"]
    assert sum(r["n_docs"] for r in card["splits"]) == card["rows"]
    assert {r["split"] for r in card["splits"]} <= {"train", "valid", "test"}
    shard_root = root / "out" / "shards"
    for split_dir in manifest["shard_layout"]:
        assert (shard_root / split_dir).is_dir()


def test_pipeline_is_deterministic(spark, pipe_run):
    root, cfg, manifest = pipe_run
    cfg2 = dict(
        cfg,
        work_dir=str(root / "work2"),
        out_dir=str(root / "out2"),
    )
    manifest2 = run_corpus_pipeline(spark, cfg2)

    def counts(m):
        return [(s["stage"], s["rows_out"], s["dropped"]) for s in m["stages"]]

    assert counts(manifest2) == counts(manifest)
    a = spark.read.parquet(str(root / "out" / "shards"))
    b = spark.read.parquet(str(root / "out2" / "shards"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _cached_plan_count(spark) -> int:
    """Plans held by the session's CacheManager (its private
    `cachedData`, read by reflection: no public API counts them)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def test_repeat_runs_leave_no_persisted_artifacts(spark, tmp_path):
    """Every run checkpoints under a fresh work_dir, so the artifacts
    its stage kernels persist (fuzzy dedup's shingle tables, sizes,
    component edges) can never be hit again: two default-stage runs in
    one session must leave the CacheManager as they found it."""
    input_dir = tmp_path / "input"
    spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).write.parquet(
        str(input_dir / "documents.parquet")
    )
    before = _cached_plan_count(spark)
    after = []
    for run in ("a", "b"):
        run_corpus_pipeline(spark, {
            "input_dir": str(input_dir),
            "work_dir": str(tmp_path / run / "work"),
            "out_dir": str(tmp_path / run / "out"),
        })
        after.append(_cached_plan_count(spark))
    assert after == [before, before]


def test_pipeline_all_stages_off_is_passthrough(spark, tmp_path):
    cfg = {
        "input_dir": SF_DIR,
        "work_dir": str(tmp_path / "work"),
        "out_dir": str(tmp_path / "out"),
        "stages": {s: False for s in STAGES},
    }
    manifest = run_corpus_pipeline(spark, cfg)
    assert manifest["rows_out"] == manifest["rows_in"]
    assert manifest["stages"] == []
    final = spark.read.parquet(str(tmp_path / "out" / "shards"))
    assert final.count() == manifest["rows_in"]


def test_decontaminate_matches_registered_semantics(spark):
    """The pipeline's drop set must be exactly the bucket<90 docs that
    share a shingle with the bucket>=90 eval set — the same shingle
    join the oracled prep_decontaminate pins, widened from train-only
    to train+valid (the pipeline guards BOTH non-eval splits)."""
    from adcirctime2cogs_spark.operators.dataprep import _bucket
    from adcirctime2cogs_spark.operators.dedup import shingles
    from adcirctime2cogs_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    kept = _decontaminate(docs)
    sh = shingles(docs)
    split = docs.select("doc_id", _bucket("", 100).alias("bucket"))
    test_sh = (
        sh.join(split.filter("bucket >= 90"), "doc_id").select("sh").distinct()
    )
    expected_dropped = {
        r.doc_id
        for r in sh.join(split.filter("bucket < 90"), "doc_id")
        .join(test_sh, "sh")
        .select("doc_id")
        .distinct()
        .collect()
    }
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert all_ids - kept_ids == expected_dropped


def test_cli_flags_drive_a_run(spark, tmp_path, capsys):
    from adcirctime2cogs_spark import corpus_pipeline

    rc = corpus_pipeline.main(
        [
            "--input-dir",
            SF_DIR,
            "--work-dir",
            str(tmp_path / "w"),
            "--out-dir",
            str(tmp_path / "o"),
            "--skip",
            "fuzzy_dedup",
            "--skip",
            "decontaminate",
        ]
    )
    assert rc == 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    manifest = json.loads(line)
    assert manifest["rows_out"] > 0
    assert not any(
        s["stage"] in ("fuzzy_dedup", "decontaminate")
        for s in manifest["stages"]
    )


def test_embedding_stages_filter_and_emit_pq_index(spark, tmp_path):
    """The opt-in vector stages end-to-end: embedding_dedup drops a
    PLANTED near-identical-embedding twin (keep-lowest-id, the
    registered dedup_embedding_cosine kernel over survivors), and
    pq_index emits the surviving corpus's PQ code table with one row
    per surviving embedding — both carried in the manifest."""
    import numpy as np

    from adcirctime2cogs_spark.operators.similarity import PQ_M

    root = tmp_path
    inp = str(root / "input")
    _planted_input(spark, inp)
    docs = spark.read.parquet(os.path.join(inp, "documents.parquet"))
    # embeddings aligned vec_id == doc_id; doc 900001 (the exact-dup
    # plant, removed at stage 1) gets none — the alignment semi-join
    # must tolerate docs without vectors. Plant doc 11's embedding on
    # doc 13 (near-identical, same sign bucket) so embedding_dedup
    # must drop 13 and keep 11.
    emb = spark.read.parquet(
        os.path.join(SF_DIR, "embeddings.parquet")
    ).select("vec_id", "embedding")
    ids = {r.doc_id for r in docs.select("doc_id").collect()}
    e11 = emb.filter(F.col("vec_id") == 11).first().embedding
    twin = spark.createDataFrame(
        [(13, [v * 1.0001 for v in e11])],
        "vec_id bigint, embedding array<float>",
    )
    (
        emb.filter(F.col("vec_id").isin(list(ids - {13, 900001, 900002})))
        .unionByName(twin)
        .write.mode("overwrite")
        .parquet(os.path.join(inp, "embeddings.parquet"))
    )
    cfg = {
        "input_dir": inp,
        "work_dir": str(root / "work"),
        "out_dir": str(root / "out"),
        "stages": {
            "decontaminate": False,
            "embedding_dedup": True,
            "pq_index": True,
        },
        "shards": {"n_shards": 2},
    }
    manifest = run_corpus_pipeline(spark, cfg)
    by_stage = {s["stage"]: s for s in manifest["stages"]}
    assert "embedding_dedup" in by_stage and "pq_index" in by_stage

    ed_dir = next(
        str(root / "work" / d) for d in os.listdir(str(root / "work"))
        if d.endswith("_embedding_dedup")
    )
    kept = {
        r.doc_id
        for r in spark.read.parquet(
            os.path.join(ed_dir, "documents.parquet")
        ).select("doc_id").collect()
    }
    assert 11 in kept and 13 not in kept  # planted twin dropped
    assert by_stage["embedding_dedup"]["dropped"] >= 1

    codes = spark.read.parquet(str(root / "out" / "pq_codes.parquet"))
    assert set(codes.columns) == {
        "vec_id", *(f"c{m}" for m in range(PQ_M)), "qerr",
    }
    n_final_with_emb = spark.read.parquet(
        os.path.join(inp, "embeddings.parquet")
    ).join(
        spark.read.parquet(
            os.path.join(ed_dir, "documents.parquet")
        ).select(F.col("doc_id").alias("vec_id")),
        "vec_id", "semi",
    ).count()
    # pq_index runs LAST over the final corpus: every surviving doc
    # that has an embedding gets exactly one code row
    assert by_stage["pq_index"]["rows_out"] == codes.count()
    assert codes.count() <= n_final_with_emb
    assert codes.select("vec_id").distinct().count() == codes.count()
    # codes are valid symbols
    row = codes.agg(
        *(F.max(f"c{m}").alias(f"mx{m}") for m in range(PQ_M)),
        *(F.min(f"c{m}").alias(f"mn{m}") for m in range(PQ_M)),
    ).first()
    assert all(0 <= row[f"mn{m}"] and row[f"mx{m}"] < 16
               for m in range(PQ_M))


def test_embedding_stage_without_embeddings_errors_clearly(spark, tmp_path):
    inp = str(tmp_path / "input")
    _planted_input(spark, inp)
    cfg = {
        "input_dir": inp,
        "work_dir": str(tmp_path / "work"),
        "out_dir": str(tmp_path / "out"),
        "stages": {"decontaminate": False, "embedding_dedup": True},
    }
    with pytest.raises(ValueError, match="embeddings.parquet"):
        run_corpus_pipeline(spark, cfg)


def test_substring_scrub_stage_rewrites_not_drops(spark, tmp_path):
    """The opt-in substring_scrub stage is a 1:1 text REWRITE: row
    count unchanged, total characters can only shrink, and a planted
    cross-doc duplicated run is cut from both carriers while their
    rows survive."""
    from adcirctime2cogs_spark.operators.dedup import SPAN_K

    inp = str(tmp_path / "input")
    run = " ".join(f"dupz{j}" for j in range(SPAN_K + 2))
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    carriers = spark.createDataFrame(
        [
            (910001, "alpha beta " + run + " gamma delta"),
            (910002, run + " epsilon zeta eta theta"),
        ],
        "doc_id bigint, text string",
    ).select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("web").alias("source"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    docs.unionByName(carriers.select(*docs.columns)).write.mode(
        "overwrite"
    ).parquet(os.path.join(inp, "documents.parquet"))
    cfg = {
        "input_dir": inp,
        "work_dir": str(tmp_path / "work"),
        "out_dir": str(tmp_path / "out"),
        # isolate the stage under test: quality would drop the tiny
        # carrier docs before the scrub could touch them
        "stages": {s: s in ("substring_scrub",)
                   for s in run_corpus_pipeline.__globals__["STAGES"]},
    }
    manifest = run_corpus_pipeline(spark, cfg)
    st = next(s for s in manifest["stages"]
              if s["stage"] == "substring_scrub")
    assert st["dropped"] == 0  # rewrite, never a drop
    scrubbed = spark.read.parquet(
        os.path.join(_stage_dir(tmp_path, "substring_scrub"), "documents.parquet")
    )
    rows = {r.doc_id: r.text for r in scrubbed.filter(
        F.col("doc_id") >= 910001).collect()}
    assert rows[910001] == "alpha beta gamma delta"
    assert rows[910002] == "epsilon zeta eta theta"
    n_chars_ok = scrubbed.filter(
        F.length("text") != F.col("n_chars")
    ).count()
    assert n_chars_ok == 0


def test_lang_filter_stage_drops_classifier_misses(spark, tmp_path):
    """The opt-in lang_filter stage: run with every OTHER filter off so
    the stage's input is the raw corpus, and pin that it keeps exactly
    the docs the registered classifier marks hit==1 on that corpus —
    the stage must be a pure semi-join against the oracle-pinned
    kernel, not a second implementation."""
    from adcirctime2cogs_spark.corpus_pipeline import (
        STAGES,
        run_corpus_pipeline,
    )
    from adcirctime2cogs_spark.operators.textstats import text_nb_classify

    root = tmp_path
    _planted_input(spark, str(root / "input"))
    cfg = {
        "input_dir": str(root / "input"),
        "work_dir": str(root / "work"),
        "out_dir": str(root / "out"),
        "stages": {**{s: False for s in STAGES}, "lang_filter": True},
        "shards": {"n_shards": 2},
    }
    manifest = run_corpus_pipeline(spark, cfg)
    (stage,) = manifest["stages"]
    assert stage["stage"] == "lang_filter"
    expected = {
        r.doc_id
        for r in text_nb_classify(spark, str(root / "input"))
        .filter("hit = 1").select("doc_id").collect()
    }
    survived = {
        r.doc_id
        for r in spark.read.parquet(
            os.path.join(_stage_dir(root, "lang_filter"), "documents.parquet")
        ).select("doc_id").collect()
    }
    assert survived == expected
    assert stage["rows_out"] == len(expected)
    assert stage["dropped"] == manifest["rows_in"] - len(expected)


def test_semdedup_stage_drops_planted_semantic_twin(spark, tmp_path):
    """The opt-in SemDeDup stage: a planted near-identical-embedding
    pair (docs 11/13, same IVF cell by construction) must lose
    exactly one member under the farthest-from-centroid keeper rule,
    the stage manifest must carry the drop, and the run's cell-index
    layouts must be reaped from the warehouse afterwards."""
    import numpy as np

    from adcirctime2cogs_spark.tables import _src_hash

    root = tmp_path
    inp = str(root / "input")
    _planted_input(spark, inp)
    docs = spark.read.parquet(os.path.join(inp, "documents.parquet"))
    emb = spark.read.parquet(
        os.path.join(SF_DIR, "embeddings.parquet")
    ).select("vec_id", "embedding")
    ids = {r.doc_id for r in docs.select("doc_id").collect()}
    e11 = emb.filter(F.col("vec_id") == 11).first().embedding
    twin = spark.createDataFrame(
        [(13, [v * 1.0001 for v in e11])],
        "vec_id bigint, embedding array<float>",
    )
    (
        emb.filter(F.col("vec_id").isin(list(ids - {13, 900001, 900002})))
        .unionByName(twin)
        .write.mode("overwrite")
        .parquet(os.path.join(inp, "embeddings.parquet"))
    )
    cfg = {
        "input_dir": inp,
        "work_dir": str(root / "work"),
        "out_dir": str(root / "out"),
        "stages": {"decontaminate": False, "semdedup": True},
        "shards": {"n_shards": 2},
    }
    manifest = run_corpus_pipeline(spark, cfg)
    by_stage = {s["stage"]: s for s in manifest["stages"]}
    assert by_stage["semdedup"]["dropped"] >= 1
    sd_dir = next(
        str(root / "work" / d) for d in os.listdir(str(root / "work"))
        if d.endswith("_semdedup")
    )
    kept = {
        r.doc_id
        for r in spark.read.parquet(
            os.path.join(sd_dir, "documents.parquet")
        ).select("doc_id").collect()
    }
    assert (11 in kept) != (13 in kept)  # exactly one twin survives
    # the run's cell-index layouts were dropped from the warehouse
    sem_dir = str(root / "work" / "semdedup_embeddings")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    src = _src_hash(sem_dir)
    leftovers = [e for e in os.listdir(wh) if f"_{src}-" in e]
    assert leftovers == []


def test_repetition_filter_stage_matches_operator(spark, tmp_path):
    """The opt-in repetition_filter stage: with every other filter
    off, survivors must be exactly the keep==1 set of the library
    operator (textstats.repetition_filter) on the raw corpus — a pure
    semi-join against the pinned kernel, no second implementation —
    and a planted pathological repeater must be among the dropped."""
    import os

    from pyspark.sql import Row

    from adcirctime2cogs_spark.corpus_pipeline import (
        STAGES,
        run_corpus_pipeline,
    )
    from adcirctime2cogs_spark.operators.textstats import (
        repetition_filter,
    )

    root = tmp_path
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    planted = spark.createDataFrame([Row(
        doc_id=10_000_001, text="spam ham " * 200 + "spam ham",
        lang="en", source="src0", n_chars=9 * 201,
    )]).select(*base.columns)
    os.makedirs(str(root / "input"), exist_ok=True)
    base.unionByName(planted).write.mode("overwrite").parquet(
        os.path.join(str(root / "input"), "documents.parquet")
    )
    cfg = {
        "input_dir": str(root / "input"),
        "work_dir": str(root / "work"),
        "out_dir": str(root / "out"),
        "stages": {**{s: False for s in STAGES},
                   "repetition_filter": True},
        "shards": {"n_shards": 2},
    }
    manifest = run_corpus_pipeline(spark, cfg)
    (stage,) = manifest["stages"]
    assert stage["stage"] == "repetition_filter"
    docs_in = spark.read.parquet(
        os.path.join(str(root / "input"), "documents.parquet")
    )
    expected = {
        r.doc_id
        for r in repetition_filter(docs_in.select("doc_id", "text"))
        .filter("keep = 1").collect()
    }
    survived = {
        r.doc_id
        for r in spark.read.parquet(os.path.join(
            _stage_dir(root, "repetition_filter"), "documents.parquet"
        )).select("doc_id").collect()
    }
    assert survived == expected
    assert 10_000_001 not in survived
    assert stage["rows_out"] == len(expected)


def test_paragraph_dedup_stage_first_keeper_semantics(spark, tmp_path):
    """The opt-in paragraph_dedup stage: a tile duplicated across two
    planted docs survives only in the lower-id carrier; the higher-id
    carrier keeps its unique tiles and loses the copied one; a doc
    that is ENTIRELY tiles of another doc drops. Must be a pure
    consumer of the registered dedup_paragraph_first kernel."""
    from adcirctime2cogs_spark.operators.dedup import PARA_K

    inp = str(tmp_path / "input")
    shared = " ".join(f"parz{j}" for j in range(PARA_K))
    uniq = " ".join(f"only{j}" for j in range(PARA_K))
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    carriers = spark.createDataFrame(
        [
            (920001, shared + " " + uniq),  # keeps both tiles (first)
            # both of 920002's tiles first occur in lower-id 920001,
            # so it keeps nothing and the stage drops it entirely
            (920002, uniq + " " + shared),
            (920003, shared),               # fully duplicated -> drops
        ],
        "doc_id bigint, text string",
    ).select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("web").alias("source"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    docs.unionByName(carriers.select(*docs.columns)).write.mode(
        "overwrite"
    ).parquet(os.path.join(inp, "documents.parquet"))
    cfg = {
        "input_dir": inp,
        "work_dir": str(tmp_path / "work"),
        "out_dir": str(tmp_path / "out"),
        "stages": {s: s in ("paragraph_dedup",)
                   for s in run_corpus_pipeline.__globals__["STAGES"]},
    }
    manifest = run_corpus_pipeline(spark, cfg)
    st = next(s for s in manifest["stages"] if s["stage"] == "paragraph_dedup")
    assert st["dropped"] >= 2  # 920002 and 920003 must go
    out = spark.read.parquet(
        os.path.join(_stage_dir(tmp_path, "paragraph_dedup"),
                     "documents.parquet")
    )
    rows = {r.doc_id: r for r in out.filter(
        F.col("doc_id") >= 920001).collect()}
    assert set(rows) == {920001}
    assert rows[920001].text == shared + " " + uniq
    # n_chars recomputed everywhere
    assert out.filter(F.length("text") != F.col("n_chars")).count() == 0


def test_ppl_tail_filter_stage_drops_worst_tercile(spark, tmp_path):
    """The opt-in ppl_tail_filter stage keeps exactly the docs the
    shared ppl_doc_terciles kernel puts in buckets 1-2 on the SAME
    corpus the stage saw — a pure semi-join, no second scoring
    implementation."""
    from adcirctime2cogs_spark.operators.textstats import ppl_doc_terciles

    inp = str(tmp_path / "input")
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    docs.write.mode("overwrite").parquet(
        os.path.join(inp, "documents.parquet"))
    cfg = {
        "input_dir": inp,
        "work_dir": str(tmp_path / "work"),
        "out_dir": str(tmp_path / "out"),
        "stages": {s: s in ("ppl_tail_filter",)
                   for s in run_corpus_pipeline.__globals__["STAGES"]},
    }
    manifest = run_corpus_pipeline(spark, cfg)
    st = next(s for s in manifest["stages"] if s["stage"] == "ppl_tail_filter")
    expected = {
        r["doc_id"]
        for r in ppl_doc_terciles(
            docs.select("doc_id", "text", "lang")
        ).filter(F.col("b") != 3).collect()
    }
    out = spark.read.parquet(
        os.path.join(_stage_dir(tmp_path, "ppl_tail_filter"),
                     "documents.parquet")
    )
    got = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert got == expected
    assert st["rows_out"] == len(expected)
    # terciles: roughly a third of every language dropped
    assert st["dropped"] >= docs.count() // 4


def test_gopher_rules_stage_matches_operator(spark, tmp_path):
    """The opt-in gopher_rules stage: with every other filter off,
    survivors must be exactly the keep==1 set of the registered
    text_gopher_rules operator on the raw corpus (a semi-join against
    the pinned kernel, no second implementation)."""
    import os

    from adcirctime2cogs_spark.corpus_pipeline import (
        STAGES,
        run_corpus_pipeline,
    )
    from adcirctime2cogs_spark.operators.textstats import text_gopher_rules

    root = tmp_path
    cfg = {
        "input_dir": "/root/testdata/sf0.001",
        "work_dir": str(root / "work"),
        "out_dir": str(root / "out"),
        "stages": {**{s: False for s in STAGES}, "gopher_rules": True},
        "shards": {"n_shards": 2},
    }
    manifest = run_corpus_pipeline(spark, cfg)
    (stage,) = manifest["stages"]
    assert stage["stage"] == "gopher_rules"
    expected = {
        r.doc_id
        for r in text_gopher_rules(spark, "/root/testdata/sf0.001")
        .filter("keep = 1").collect()
    }
    survived = {
        r.doc_id
        for r in spark.read.parquet(os.path.join(
            _stage_dir(root, "gopher_rules"), "documents.parquet"
        )).select("doc_id").collect()
    }
    assert survived == expected
    assert 0 < len(survived) < 500  # both verdicts exercised
    assert stage["rows_out"] == len(expected)


def test_entropy_filter_stage_drops_planted_boilerplate(spark, tmp_path):
    """The opt-in entropy_filter stage drops a planted single-character
    padding document (entropy 0) and keeps everything the registered
    text_char_entropy kernel scores above the floor."""
    import os

    from pyspark.sql import Row

    from adcirctime2cogs_spark.corpus_pipeline import (
        ENTROPY_FLOOR_NATS,
        STAGES,
        run_corpus_pipeline,
    )
    from adcirctime2cogs_spark.operators.textstats import char_entropy

    root = tmp_path
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    planted = spark.createDataFrame([Row(
        doc_id=10_000_002, text="a" * 400,
        lang="en", source="src0", n_chars=400,
    )]).select(*base.columns)
    os.makedirs(str(root / "input"), exist_ok=True)
    base.unionByName(planted).write.mode("overwrite").parquet(
        os.path.join(str(root / "input"), "documents.parquet")
    )
    cfg = {
        "input_dir": str(root / "input"),
        "work_dir": str(root / "work"),
        "out_dir": str(root / "out"),
        "stages": {**{s: False for s in STAGES}, "entropy_filter": True},
        "shards": {"n_shards": 2},
    }
    manifest = run_corpus_pipeline(spark, cfg)
    (stage,) = manifest["stages"]
    assert stage["stage"] == "entropy_filter"
    docs_in = spark.read.parquet(
        os.path.join(str(root / "input"), "documents.parquet")
    )
    expected = {
        r.doc_id
        for r in char_entropy(docs_in.select("doc_id", "text"))
        .filter(f"entropy >= {ENTROPY_FLOOR_NATS}").collect()
    }
    survived = {
        r.doc_id
        for r in spark.read.parquet(os.path.join(
            _stage_dir(root, "entropy_filter"), "documents.parquet"
        )).select("doc_id").collect()
    }
    assert survived == expected
    assert 10_000_002 not in survived
    assert len(survived) == 500  # natural fixture docs all clear 1 nat
