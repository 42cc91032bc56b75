"""End-to-end training-corpus preparation CLI: documents in, training
shards + dataset card out.

This is the LLM-pipeline twin of pipeline.py (which drives the
reference's geospatial dataflow, run/adcircTime2cogs.py:121-240): one
command takes a raw documents table through the standard corpus-prep
sequence and emits a training-ready artifact:

    exact_dedup -> quality -> [repetition_filter] -> [gopher_rules] ->
    [entropy_filter] -> [lang_filter] ->
    [ppl_tail_filter] -> fuzzy_dedup -> [paragraph_dedup] ->
    [embedding_dedup] -> [semdedup] -> [substring_scrub] -> decontaminate ->
    pii_scrub -> source_cap -> [mixture] -> [pq_index emit] ->
    split -> shards + card

Every stage composes the SAME DataFrame kernels the registered,
DuckDB-oracled queries run (quality_verdict, dedup_corpus_emit,
source_cap_keepers, the PII regex pair, the md5-bucket split), so the
pipeline's behavior is pinned by the per-operator correctness gates —
there is no second implementation to drift.

Scale shape: each enabled stage MATERIALIZES its output as
documents.parquet under work_dir (the written-once tables a 100 TB
pipeline checkpoints between stages — restartable, inspectable, and
the input contract `dedup_corpus_emit` needs), and per-stage row
counts come from parquet footer metadata, not a recount of the chain.
All filters are either row-local column math or semi/anti joins
against keeper/drop id sets; the documents table itself never
self-joins (the fuzzy stage's pair graph is dedup.py's capped
posting-list exact-Jaccard path — DF_CAP bounds every shingle's
pair fan-out, so no shingle self-join ever materializes).
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adcirctime2cogs_spark import memo

# stage order is part of the contract: quality halves the fuzzy
# stage's shingle volume, dedup precedes decontamination so dropped
# twins never mask a contaminated keeper, and the cap runs last so it
# counts only surviving docs
STAGES = (
    "exact_dedup",
    "quality",
    "repetition_filter",
    "gopher_rules",
    "entropy_filter",
    "lang_filter",
    "ppl_tail_filter",
    "fuzzy_dedup",
    "paragraph_dedup",
    "embedding_dedup",
    "semdedup",
    "substring_scrub",
    "decontaminate",
    "pii_scrub",
    "source_cap",
    "mixture",
    "pq_index",
)

# mixture is opt-in (it intentionally downsamples the dominant
# language — lossy by design); the two embedding stages are opt-in
# because they require an embeddings.parquet beside the documents
# (vec_id == doc_id, the fixture convention dedup_embedding_cosine
# pins): embedding_dedup filters semantic near-dups the text miners
# can't see, and pq_index EMITS the 64x-compressed PQ code table for
# the surviving corpus (an artifact, not a filter — rows tracked in
# the manifest under its own entry).
# substring_scrub is opt-in too: it REWRITES text (cuts duplicated
# token spans, Lee et al. ACL'22), which a corpus owner must choose —
# unlike the drop-only dedup stages it changes surviving documents.
# semdedup is the third opt-in embedding stage: cluster-bounded
# SemDeDup keepers (farthest-from-centroid survivor per duplicate
# group) — a different keeper POLICY than embedding_dedup's
# keep-lowest-id, so a corpus owner picks one (enabling both is
# legal; semdedup then sees only embedding_dedup's survivors).
# repetition_filter (the Gopher word-n-gram repetition gate,
# textstats.repetition_filter) is opt-in: its published thresholds
# target natural prose, and a corpus owner tunes them per corpus —
# on the synthetic word-soup fixture the defaults would drop nearly
# everything, which is correct behavior but not a default.
# ppl_tail_filter (CCNet: drop the per-language worst-perplexity
# tercile under the corpus-fit unigram LM) is opt-in because it is
# lossy by design, like mixture. paragraph_dedup (Dolma: keep each
# PARA_K-token tile's globally first occurrence and reassemble) is
# opt-in because it REWRITES text and can drop fully-duplicated docs,
# like substring_scrub.
# gopher_rules (the Gopher THRESHOLD rules — word-count band, mean
# word length, symbol ratio, alpha-word fraction, minimum stopwords;
# textstats.gopher_rule_cols) is opt-in for the same reason as
# repetition_filter: the published constants target natural prose,
# and the synthetic word-soup fixture has no stopwords at all, so the
# default would drop everything. entropy_filter (drop documents whose
# character-level Shannon entropy falls below a floor — padding runs
# and single-token boilerplate) is opt-in because the floor is
# corpus-tuned; both are drop-only semi-joins like _quality.
_DEFAULT_ON = {
    s: s not in ("mixture", "embedding_dedup", "semdedup", "pq_index",
                 "substring_scrub", "lang_filter", "repetition_filter",
                 "gopher_rules", "entropy_filter",
                 "ppl_tail_filter", "paragraph_dedup")
    for s in STAGES
}


def _write_stage(df: DataFrame, stage_dir: str) -> int:
    """Materialize a stage output as <stage_dir>/documents.parquet and
    return its row count (parquet footer metadata — no re-scan)."""
    spark = df.sparkSession
    path = os.path.join(stage_dir, "documents.parquet")
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).count()


def _read_stage(spark: SparkSession, stage_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(stage_dir, "documents.parquet"))


def _exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep the lowest doc_id per exact NORMALIZED text content — the
    same md5(normalized_text) grouping the registered dedup_exact is
    oracle-pinned on, so case/whitespace-variant duplicates collapse
    here exactly as there (review r11: a raw-text xxhash64 group let
    'Hello  World' and 'hello world' both survive). The 32-byte digest
    shuffles; the text never does."""
    from adcirctime2cogs_spark.functions.text import normalized_text

    keepers = (
        docs.groupBy(F.md5(normalized_text(F.col("text"))).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return docs.join(keepers, "doc_id", "semi")


def _quality(docs: DataFrame) -> DataFrame:
    from adcirctime2cogs_spark.operators.dataprep import quality_verdict

    return quality_verdict(docs).filter("keep").select(*docs.columns)


def _repetition_filter(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition gate (Rae et al. 2021 table A1,
    transplanted to word n-grams — textstats.repetition_stats): drops
    documents over the dup-token / top-2-gram / dup-5-gram character
    ceilings. Drop-only semi-join, same shape as _quality."""
    from adcirctime2cogs_spark.operators.textstats import (
        repetition_filter,
    )

    keep = (
        repetition_filter(docs.select("doc_id", "text"))
        .filter(F.col("keep") == 1)
        .select("doc_id")
    )
    return docs.join(keep, "doc_id", "semi")


def _gopher_filter(docs: DataFrame) -> DataFrame:
    """Gopher threshold-rule gate (Rae et al. 2021 Appendix A —
    textstats.gopher_rule_cols, the same exact-integer comparisons the
    registered text_gopher_rules oracle pins). Drop-only semi-join."""
    from adcirctime2cogs_spark.operators.textstats import gopher_rule_cols

    keep_col = gopher_rule_cols()[-1]
    keep = (
        docs.select("doc_id", "text")
        .select("doc_id", keep_col.alias("keep"))
        .filter(F.col("keep"))
        .select("doc_id")
    )
    return docs.join(keep, "doc_id", "semi")


ENTROPY_FLOOR_NATS = 1.0  # ~3 effective symbols; prose sits near 3


def _entropy_filter(docs: DataFrame) -> DataFrame:
    """Character-entropy floor (textstats.char_entropy, the registered
    text_char_entropy kernel): drops padding/boilerplate documents
    whose character distribution collapses below ENTROPY_FLOOR_NATS.
    Drop-only semi-join."""
    from adcirctime2cogs_spark.operators.textstats import char_entropy

    keep = (
        char_entropy(docs.select("doc_id", "text"))
        .filter(F.col("entropy") >= ENTROPY_FLOOR_NATS)
        .select("doc_id")
    )
    return docs.join(keep, "doc_id", "semi")


def _lang_filter(spark: SparkSession, stage_in_dir: str) -> DataFrame:
    """Language-consistency filter (the CCNet-style LID gate): fit the
    registered multinomial-NB classifier on the surviving corpus's own
    (lang, token) counts and DROP documents whose predicted language
    disagrees with their label — mislabeled or code-switched docs that
    would pollute per-language mixtures. Composes the same
    text_nb_classify kernel the DuckDB oracle pins; the keep set is a
    semi-join, so the stage is one classifier pass + one id join."""
    from adcirctime2cogs_spark.operators.textstats import text_nb_classify

    keep = (
        text_nb_classify(spark, stage_in_dir)
        .filter(F.col("hit") == 1)
        .select("doc_id")
    )
    return _read_stage(spark, stage_in_dir).join(keep, "doc_id", "semi")


def _fuzzy_dedup(spark: SparkSession, stage_in_dir: str) -> DataFrame:
    """Near-dup clusters -> canonical keepers, via the registered
    survivor chain (shingles -> capped posting-list exact-Jaccard
    pairs -> connected components -> survivor pick) run against the
    materialized stage directory. Keepers include every singleton
    (one row per SURVIVING doc, not per dup cluster), so they are
    approximately corpus-sized: the semi-join must shuffle — a forced
    broadcast would blow the 8 GB limit long before 100 TB. AQE still
    converts it to a broadcast join when the corpus really is small.
    Review r11: composes dedup_survivors' keeper ids directly rather
    than dedup_corpus_emit, which semi-joins the documents table
    itself — going through it scanned documents.parquet twice per
    stage."""
    from adcirctime2cogs_spark.operators.dedup import dedup_survivors

    keepers = dedup_survivors(spark, stage_in_dir).select(
        F.col("keeper").alias("doc_id")
    )
    return _read_stage(spark, stage_in_dir).join(keepers, "doc_id", "semi")


def _aligned_embeddings(spark: SparkSession, input_dir: str,
                        docs: DataFrame) -> DataFrame:
    """The input corpus's embeddings restricted to SURVIVING docs
    (vec_id == doc_id — the convention the registered
    dedup_embedding_cosine pins). Embeddings ride the ORIGINAL input
    dir: stages rewrite documents.parquet only, so the vector table
    is joined down, never copied forward."""
    path = os.path.join(input_dir, "embeddings.parquet")
    if not os.path.exists(path):
        raise ValueError(
            "an embedding stage is enabled but the input dir has no "
            f"embeddings.parquet ({path})"
        )
    return spark.read.parquet(path).join(
        docs.select(F.col("doc_id").alias("vec_id")), "vec_id", "semi"
    )


def _embedding_dedup(spark: SparkSession, docs: DataFrame,
                     input_dir: str) -> DataFrame:
    """Semantic near-dup filter: drop docs whose embedding has cosine
    >= the module threshold with a LOWER-id surviving embedding,
    candidates blocked by the sign-LSH bucket — the exact kernel of
    the registered dedup_embedding_cosine, run over survivors only.
    This catches paraphrase-level duplicates the shingle miners can't
    see; keep-lowest-id matches every other dedup stage."""
    from adcirctime2cogs_spark.functions.numeric import r4
    from adcirctime2cogs_spark.operators.dedup import _EMB_TAU
    from adcirctime2cogs_spark.operators.similarity import (
        _sign_bucket,
        _sign_bucket_candidates,
        cosine_pre,
    )

    emb = _aligned_embeddings(spark, input_dir, docs).withColumn(
        "bucket", _sign_bucket(F.col("embedding"))
    )
    # the SAME capped candidate relation the registered kernel uses
    # (review r11: an uncapped within-bucket self-join re-implemented
    # the blocking without SIGN_BUCKET_CAP's star fallback — a
    # mass-duplicated bucket would emit k^2 candidate rows from one
    # task, the exact failure mode the cap audit closed)
    dup_ids = (
        _sign_bucket_candidates(emb)
        .filter(
            r4(cosine_pre(F.col("ea"), F.col("eb"),
                          F.col("na"), F.col("nb"))) >= _EMB_TAU
        )
        .select(F.col("vec_b").alias("dup_id"))
        .distinct()
    )
    # dup set size scales with the corpus's duplication rate — let
    # AQE pick the join strategy rather than forcing a broadcast
    return docs.join(
        dup_ids, docs.doc_id == dup_ids.dup_id, "left_anti"
    ).select(*docs.columns)


def _semdedup(spark: SparkSession, docs: DataFrame, input_dir: str,
              work_dir: str) -> tuple[DataFrame, str]:
    """SemDeDup stage (Abbas et al. 2023 shape, the registered
    dedup_semantic_keepers kernel): survivors' embeddings materialize
    under work_dir (the kernel reads a table dir and builds its IVF
    cell index once via layout_once), the keeper set — one
    farthest-from-centroid member per within-cell duplicate group —
    semi-joins the doc chain. Returns (filtered docs, the embedding
    stage dir) so the caller can drop the run's cell-index layouts
    AFTER the stage output materializes (the keeper plan reads
    them lazily)."""
    from adcirctime2cogs_spark.operators.dedup import (
        dedup_semantic_keepers,
    )

    emb = _aligned_embeddings(spark, input_dir, docs)
    stage_dir = os.path.join(work_dir, "semdedup_embeddings")
    emb.write.mode("overwrite").parquet(
        os.path.join(stage_dir, "embeddings.parquet")
    )
    keepers = dedup_semantic_keepers(spark, stage_dir).select(
        F.col("vec_id").alias("doc_id")
    )
    out = docs.join(keepers, "doc_id", "semi").select(*docs.columns)
    return out, stage_dir


def _emit_pq_index(spark: SparkSession, docs: DataFrame, input_dir: str,
                   work_dir: str, out_dir: str) -> int:
    """Emit the surviving corpus's product-quantization index:
    survivors' embeddings materialize under work_dir (the registered
    vec_pq_encode kernel reads a table dir), the 4-symbol codes +
    quantization error land at out_dir/pq_codes.parquet, and the
    count returns for the manifest. 64x smaller than the float
    vectors — the artifact an ANN-serving tier loads instead of the
    embedding store (sim_topk_pq_adc / sim_topk_pq_rerank)."""
    from adcirctime2cogs_spark.operators.similarity import (
        PQ_K,
        vec_pq_encode,
    )

    emb = _aligned_embeddings(spark, input_dir, docs)
    stage_dir = os.path.join(work_dir, "pq_embeddings")
    emb.write.mode("overwrite").parquet(
        os.path.join(stage_dir, "embeddings.parquet")
    )
    n_vecs = spark.read.parquet(
        os.path.join(stage_dir, "embeddings.parquet")
    ).count()
    if n_vecs < PQ_K:
        raise ValueError(
            f"pq_index needs >= {PQ_K} surviving embeddings for the "
            f"codebook, got {n_vecs}"
        )
    codes = vec_pq_encode(spark, stage_dir)
    out_path = os.path.join(out_dir, "pq_codes.parquet")
    codes.write.mode("overwrite").parquet(out_path)
    n = spark.read.parquet(out_path).count()
    # the encode materialized a layout keyed to this run's stage dir;
    # the exported pq_codes.parquet above is the durable artifact
    from adcirctime2cogs_spark.tables import drop_layouts

    drop_layouts(spark, stage_dir)
    return n


def _ppl_tail_filter(docs: DataFrame) -> DataFrame:
    """CCNet head/middle keep (drop the per-language tail tercile of
    corpus-fit unigram perplexity) — the same ppl_doc_terciles kernel
    the registered text_ppl_buckets aggregates, consumed as a filter:
    one semi-join on doc_id, drop-only."""
    from adcirctime2cogs_spark.operators.textstats import ppl_doc_terciles

    keep = (
        ppl_doc_terciles(docs.select("doc_id", "text", "lang"))
        .filter(F.col("b") != 3)
        .select("doc_id")
    )
    return docs.join(keep, "doc_id", "semi")


def _paragraph_dedup(spark: SparkSession, stage_in_dir: str) -> DataFrame:
    """Dolma-style paragraph dedup over the materialized stage (the
    registered dedup_paragraph_first kernel): each PARA_K-token tile
    survives once corpus-wide at its first (doc_id, position)
    occurrence; docs get their kept tiles reassembled as the new text
    (n_chars recomputed) and docs contributing nothing first are
    dropped. Rewrites text like substring_scrub, but with FIRST-KEEPER
    semantics — exactly one copy of repeated boilerplate survives
    somewhere, instead of being cut everywhere."""
    from adcirctime2cogs_spark.operators.dedup import dedup_paragraph_first

    docs = _read_stage(spark, stage_in_dir)
    kept = dedup_paragraph_first(spark, stage_in_dir).filter(
        F.col("n_kept") > 0
    )
    others = [c for c in docs.columns if c not in ("text", "n_chars")]
    return docs.join(kept.select("doc_id", "kept_text"), "doc_id").select(
        *others,
        F.col("kept_text").alias("text"),
        F.length("kept_text").cast("bigint").alias("n_chars"),
    )


def _substring_scrub(spark: SparkSession, stage_in_dir: str) -> DataFrame:
    """Cut cross-document duplicated token spans from surviving text
    (the registered text_substring_scrub kernel over the materialized
    stage): affected docs get the cleaned text with n_chars
    recomputed, untouched docs pass through — strictly 1:1 rows."""
    from adcirctime2cogs_spark.operators.dedup import text_substring_scrub

    docs = _read_stage(spark, stage_in_dir)
    scrub = text_substring_scrub(spark, stage_in_dir).select(
        "doc_id", "clean_text"
    )
    others = [c for c in docs.columns if c not in ("text", "n_chars")]
    new_text = F.coalesce(F.col("clean_text"), F.col("text"))
    return docs.join(scrub, "doc_id", "left").select(
        *others,
        new_text.alias("text"),
        F.length(new_text).cast("bigint").alias("n_chars"),
    )


def _decontaminate(docs: DataFrame) -> DataFrame:
    """Drop every doc sharing a word-3-gram shingle with the held-out
    eval bucket (same md5-bucket arithmetic and shingle join as the
    registered prep_decontaminate, deliberately WIDENED from its
    train-only flagging to train+valid — see the inline note;
    eval-side shingles reduce to a distinct set first). The eval side
    here is ~10% of the corpus's
    own shingles — it GROWS with the corpus, so the join is a plain
    shuffle join on `sh` (AQE broadcasts it only when it measures
    small; forcing a broadcast would cap the pipeline at whatever
    fits in 8 GB). Eval-bucket docs themselves are kept: they ARE
    the holdout."""
    from adcirctime2cogs_spark.operators.dataprep import _bucket
    from adcirctime2cogs_spark.operators.dedup import shingles

    sh = shingles(docs)
    split = docs.select("doc_id", _bucket("", 100).alias("bucket"))
    # DELIBERATELY wider than the registered kernel: prep_decontaminate
    # flags only train (< 80) docs; the pipeline also drops
    # contaminated VALID (80-89) docs, because test shingles leaking
    # into the model-selection split bias selection toward test
    # performance. Same join/split arithmetic otherwise; the widening
    # is pinned by test_decontaminate_matches_registered_semantics
    # (review r11: the docstring used to claim exact kernel parity).
    train_sh = sh.join(split.filter(F.col("bucket") < 90), "doc_id")
    test_sh = (
        sh.join(split.filter(F.col("bucket") >= 90), "doc_id")
        .select("sh")
        .distinct()
    )
    contaminated = (
        train_sh.join(test_sh, "sh").select("doc_id").distinct()
    )
    return docs.join(contaminated, "doc_id", "left_anti")


def _pii_scrub(docs: DataFrame) -> DataFrame:
    """Redact emails / phone-shaped digit runs in the actual text
    (same regex pair as the registered text_pii_redact — the
    Java-regex ∩ RE2 common subset) and recompute n_chars."""
    from adcirctime2cogs_spark.operators.textstats import (
        _EMAIL_RE,
        _PHONE_RE,
    )

    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "[EMAIL]"),
        _PHONE_RE,
        "[PHONE]",
    )
    others = [c for c in docs.columns if c not in ("text", "n_chars")]
    return docs.select(
        *others,
        clean.alias("text"),
        F.length(clean).cast("bigint").alias("n_chars"),
    )


def _source_cap(docs: DataFrame, cap: int | None = None) -> DataFrame:
    from adcirctime2cogs_spark.operators.dataprep import (
        SOURCE_CAP,
        source_cap_keepers,
    )

    keepers = source_cap_keepers(
        docs.select("source", "doc_id", "n_chars"),
        cap=SOURCE_CAP if cap is None else cap,
    ).select("doc_id")
    return docs.join(keepers, "doc_id", "semi")


def _mixture(docs: DataFrame) -> DataFrame:
    """Deterministic language-mixture downsampling (same hash-bucket
    membership as the registered prep_mixture_sample)."""
    from adcirctime2cogs_spark.operators.dataprep import _MIX_RATES, _bucket

    rate = F.coalesce(
        F.element_at(
            F.create_map(*[F.lit(x) for kv in _MIX_RATES.items() for x in kv]),
            F.col("lang"),
        ),
        F.lit(1000),
    )
    return docs.filter(_bucket("mix:", 1000) < rate)


def _with_split(docs: DataFrame) -> DataFrame:
    """The same content-stable 80/10/10 md5-bucket split the
    registered text_train_test_split / prep_dataset_card recompute
    inline — membership is derivable, not stored."""
    from adcirctime2cogs_spark.operators.dataprep import _bucket

    bucket = _bucket("", 100)
    return docs.withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise(
            "test"
        ),
    )


def run_corpus_pipeline(spark: SparkSession, cfg: dict) -> dict:
    """Drive the full corpus-prep dataflow; returns the run manifest
    (per-stage row counts + walls, shard layout, card path)."""
    input_dir = cfg["input_dir"]
    work_dir = cfg["work_dir"]
    out_dir = cfg["out_dir"]
    enabled = dict(_DEFAULT_ON, **cfg.get("stages", {}))
    unknown = set(enabled) - set(STAGES)
    if unknown:
        raise ValueError(f"unknown corpus pipeline stages: {sorted(unknown)}")

    docs = _read_stage(spark, input_dir)
    n_in = docs.count()
    manifest: dict = {
        "input_dir": input_dir,
        "rows_in": n_in,
        "stages": [],
    }
    cur_dir = input_dir
    prev_rows = n_in
    for i, stage in enumerate(STAGES, start=1):
        if not enabled[stage]:
            continue
        t0 = time.time()
        if stage == "pq_index":
            # artifact emit, not a corpus filter: the code table lands
            # in out_dir and the doc chain continues untouched
            n_codes = _emit_pq_index(
                spark, docs, input_dir, work_dir, out_dir
            )
            manifest["stages"].append(
                {
                    "stage": stage,
                    "rows_out": n_codes,
                    "artifact": os.path.join(out_dir, "pq_codes.parquet"),
                    "wall_sec": round(time.time() - t0, 2),
                }
            )
            continue
        if stage == "fuzzy_dedup":
            out = _fuzzy_dedup(spark, cur_dir)
        elif stage == "lang_filter":
            out = _lang_filter(spark, cur_dir)
        elif stage == "paragraph_dedup":
            out = _paragraph_dedup(spark, cur_dir)
        elif stage == "substring_scrub":
            out = _substring_scrub(spark, cur_dir)
        elif stage == "embedding_dedup":
            out = _embedding_dedup(spark, docs, input_dir)
        elif stage == "semdedup":
            out, sem_dir = _semdedup(spark, docs, input_dir, work_dir)
        elif stage == "source_cap":
            out = _source_cap(docs, cap=cfg.get("source_cap_n"))
        else:
            fn = {
                "exact_dedup": _exact_dedup,
                "quality": _quality,
                "repetition_filter": _repetition_filter,
                "gopher_rules": _gopher_filter,
                "entropy_filter": _entropy_filter,
                "ppl_tail_filter": _ppl_tail_filter,
                "decontaminate": _decontaminate,
                "pii_scrub": _pii_scrub,
                "mixture": _mixture,
            }[stage]
            out = fn(docs)
        stage_dir = os.path.join(work_dir, f"{i:02d}_{stage}")
        n = _write_stage(out, stage_dir)
        # the stage kernels memoize persisted artifacts (shingles, NB
        # model tables) keyed on the stage's input dir; every run
        # checkpoints under a fresh work_dir, so no later call can hit
        # them — release them now that the checkpoint is written
        memo.clear(spark, cur_dir)
        if stage == "semdedup":
            # the keeper plan has executed (stage output is on disk);
            # this run's cell-index layouts are addressable by no
            # later run (fresh work_dir) — drop them now
            from adcirctime2cogs_spark.tables import drop_layouts

            drop_layouts(spark, sem_dir)
        if n > prev_rows:
            # every stage filters or rewrites 1:1 — growth means a
            # join fanned out (a bug), never valid pipeline output
            raise RuntimeError(
                f"corpus stage {stage} grew the corpus: {prev_rows} -> {n}"
            )
        manifest["stages"].append(
            {
                "stage": stage,
                "rows_out": n,
                "dropped": prev_rows - n,
                "wall_sec": round(time.time() - t0, 2),
            }
        )
        prev_rows = n
        cur_dir = stage_dir
        docs = _read_stage(spark, cur_dir)
        if n == 0:
            # nothing left to filter; skip straight to the (empty) emit
            break

    from adcirctime2cogs_spark.sinks.shards import write_training_shards

    final = _with_split(docs)
    shard_cfg = cfg.get("shards", {})
    t0 = time.time()
    layout = write_training_shards(
        final,
        os.path.join(out_dir, "shards"),
        split_col="split",
        order_col="doc_id",
        n_shards=int(shard_cfg.get("n_shards", 8)),
        max_records_per_file=int(
            shard_cfg.get("max_records_per_file", 100_000)
        ),
    )
    card_rows = (
        final.groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("split", "lang")
        .collect()
    )
    card = {
        "rows": prev_rows,
        "splits": [r.asDict() for r in card_rows],
        "stages": manifest["stages"],
    }
    card_path = os.path.join(out_dir, "dataset_card.json")
    os.makedirs(out_dir, exist_ok=True)
    with open(card_path, "w") as fh:
        json.dump(card, fh, indent=1, sort_keys=True)
    manifest.update(
        {
            "rows_out": prev_rows,
            "shard_layout": layout,
            "card_path": card_path,
            "emit_wall_sec": round(time.time() - t0, 2),
        }
    )
    return manifest


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--config", help="YAML mapping of the flags below")
    p.add_argument("--input-dir", help="dir containing documents.parquet")
    p.add_argument("--work-dir", help="stage checkpoint dir")
    p.add_argument("--out-dir", help="shards + dataset card dir")
    p.add_argument(
        "--skip",
        action="append",
        default=[],
        help=f"stage to disable (repeatable); one of {STAGES}",
    )
    p.add_argument(
        "--enable",
        action="append",
        default=[],
        help="opt-in stage to enable (e.g. mixture)",
    )
    ns = p.parse_args(argv)
    cfg: dict = {}
    if ns.config:
        from adcirctime2cogs_spark.pipeline import load_config_yaml

        cfg.update(load_config_yaml(ns.config))
    for key in ("input_dir", "work_dir", "out_dir"):
        val = getattr(ns, key)
        if val is not None:
            cfg[key] = val
    stages = dict(cfg.get("stages", {}))
    stages.update({s: False for s in ns.skip})
    stages.update({s: True for s in ns.enable})
    cfg["stages"] = stages
    missing = [k for k in ("input_dir", "work_dir", "out_dir") if k not in cfg]
    if missing:
        p.error(f"missing required settings: {missing}")

    from adcirctime2cogs_spark.session import get_spark

    manifest = run_corpus_pipeline(spark=get_spark(), cfg=cfg)
    print(json.dumps(manifest, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
