"""Reproduce the README "Scale validation" numbers on this machine.

Runs the HSOFS-class synthetic workloads (plans/synthetic.py) at the
two README configurations and checks linear-field exactness cell by
cell — regrid output for a linear field must equal the field at the
centroid wherever the cell is in-domain, at ANY scale:

  1. broadcast path: 1,000,000-node mesh (1001^2? no — n=1000 ->
     1,000,000 nodes, 1,996,002 triangles), 1,000,000-cell raster
     (grid_n=1001), 2 timesteps;
  2. shuffle path: same mesh, 501^2-cell raster, 50 timesteps
     (50M-row value table — above the broadcast cutoff).

Usage:  python tools/scale_check.py [--quick]

--quick runs n=300/grid 301/5 ts (~seconds) for smoke use in CI.
Prints one JSON line per leg: {leg, n_nodes, n_cells_out, wall_sec,
violations}. violations MUST be 0.
"""

from __future__ import annotations

import argparse
import os
import json
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402


def run_leg(spark, leg: str, n: int, grid_n: int, n_ts: int) -> dict:
    from adcirctime2cogs_spark.plans.synthetic import synth_grid, synth_regrid

    spec = synth_grid(grid_n)
    t0 = time.time()
    out = synth_regrid(spark, n, grid_n, n_ts, bin_size=4.0 / (grid_n - 1))
    # analytic check distributed — never collect the raster
    cx = spec.ul_lon + (F.col("grid_col") + 0.5) * spec.res
    cy = spec.ul_lat - (F.col("grid_row") + 0.5) * spec.res
    k = F.substring("ts", 2, 8).cast("int")
    expect = 4.0 * cx - 7.0 * cy + 2.0 + k
    stats = out.agg(
        F.count("*").alias("cells"),
        F.sum(
            (F.abs(F.col("value") - expect) > 1e-9).cast("long")
        ).alias("viol"),
    ).first()
    return {
        "leg": leg,
        "n_nodes": n * n,
        "n_ts": n_ts,
        "n_cells_out": stats.cells,
        "violations": int(stats.viol or 0),
        "wall_sec": round(time.time() - t0, 2),
    }


def synth_documents(spark, out_dir: str, n_docs: int, n_tokens: int = 60,
                    vocab: int = 5000, twin_every: int = 100) -> int:
    """Write a fixture-shaped documents.parquet of n_docs synthetic
    docs plus one near-dup twin per twin_every docs (twin of base doc
    b sits at doc_id n_docs + b/twin_every, with ONE token mutated —
    word-3-gram Jaccard ≈ (n_tokens-4)/(n_tokens+2) ≈ 0.92 at 60
    tokens). Content is pure column arithmetic from doc_id: no RNG, no
    driver-side rows, generation parallelizes like any scan."""
    n_twins = n_docs // twin_every

    def text_expr(content, mut_id):
        def word(j):
            # xxhash64 for avalanche mixing — a linear-congruential
            # formula here degenerates into shared arithmetic
            # progressions (all docs share token-step structure and
            # the corpus collapses to ~15k distinct shingles)
            w = F.pmod(F.xxhash64(content, j), F.lit(vocab)).cast("string")
            base = F.concat(F.lit("w"), w)
            if mut_id is None:
                return base
            return F.when(
                j == F.pmod(content, n_tokens),
                F.concat(F.lit("m"), mut_id.cast("string")),
            ).otherwise(base)

        return F.concat_ws(
            " ",
            F.transform(F.sequence(F.lit(0), F.lit(n_tokens - 1)), word),
        )

    base = spark.range(n_docs).select(
        F.col("id").alias("doc_id"), text_expr(F.col("id"), None).alias("text")
    )
    twins = spark.range(n_twins).select(
        (F.lit(n_docs) + F.col("id")).alias("doc_id"),
        text_expr(F.col("id") * twin_every, F.col("id")).alias("text"),
    )
    docs = base.unionAll(twins).select(
        "doc_id",
        "text",
        F.lit("en").alias("lang"),
        F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string")).alias(
            "source"
        ),
        F.length("text").cast("long").alias("n_chars"),
    )
    docs.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
    return n_twins


def run_corpus_lsh_leg(spark, n_docs: int) -> dict:
    """MinHash-LSH near-dup dedup on a synthetic corpus with planted
    twins: the registered dedup_minhash_lsh_pairs runs UNCHANGED
    against the synthetic sf_dir, and recall is checked against the
    plant plan. The banding structure (4 bands x 2 rows) catches a
    j≈0.92 pair with ≥99.9% probability, so recall must be ≥0.98;
    found pairs beyond the plants would be 3-gram chance collisions
    (≈0 at vocab 5000^3)."""
    import shutil
    import tempfile

    from adcirctime2cogs_spark.operators.dedup import dedup_minhash_lsh_pairs

    out = tempfile.mkdtemp(prefix="scale_corpus_")
    twin_every = 100
    try:
        n_twins = synth_documents(spark, out, n_docs, twin_every=twin_every)
        if n_twins == 0:
            raise ValueError(
                f"--corpus-docs {n_docs} plants no twins (need >= {twin_every})"
            )
        t0 = time.time()
        pairs = dedup_minhash_lsh_pairs(spark, out)
        is_planted = (
            (F.col("doc_b") >= n_docs)
            & (F.col("doc_a") == (F.col("doc_b") - n_docs) * twin_every)
        )
        # one aggregate = one execution of the un-persisted pipeline:
        # total pairs and planted hits come from the same pass
        stats = pairs.agg(
            F.count("*").alias("total"),
            F.sum(is_planted.cast("long")).alias("hits"),
        ).first()
        hits = int(stats.hits or 0)
        wall = time.time() - t0
        recall = hits / n_twins
        return {
            "leg": f"corpus_lsh_{n_docs}",
            "n_docs": n_docs + n_twins,
            "planted": n_twins,
            "found_planted": hits,
            "pairs_total": stats.total,
            "recall": round(recall, 4),
            "wall_sec": round(wall, 2),
            "violations": 0 if recall >= 0.98 else 1,
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)


def run_textfilter_leg(spark, n_docs: int) -> dict:
    """The round-10 registration candidates at corpus scale: Gopher
    word-n-gram repetition metrics (textstats.repetition_stats — one
    generate-explode over all nine n values, one (doc_id, n, gram)
    hash-agg) and add-k bigram-LM scoring (textstats.bigram_logprob —
    vocabulary-sized count tables, one-row vocab broadcast) over a
    synthetic corpus with one planted pathological repeater. Checks:
    every document scored, every fraction in [0, 1], the plant
    saturates the duplicated-5-gram cap while the organic corpus
    stays an order of magnitude under it, and the plant's bigram
    perplexity is far below the corpus mean (its bigrams are the two
    most predictable in the vocabulary)."""
    import shutil
    import tempfile

    from adcirctime2cogs_spark.operators.textstats import (
        bigram_logprob,
        repetition_stats,
    )

    out = tempfile.mkdtemp(prefix="scale_textfilter_")
    plant_id = 10_000_000_000
    try:
        n_twins = synth_documents(spark, out, n_docs)
        plant_text = "spam ham " * 200 + "spam ham"
        spark.createDataFrame(
            [(plant_id, plant_text, "en", "src0", len(plant_text))],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).write.mode("append").parquet(
            os.path.join(out, "documents.parquet")
        )
        total = n_docs + n_twins + 1
        docs = spark.read.parquet(
            os.path.join(out, "documents.parquet")
        ).select("doc_id", "text")

        t0 = time.time()
        rs = repetition_stats(docs)
        frac_cols = [c for c in rs.columns if c.endswith("_frac")]
        bad = None
        for c in frac_cols:
            term = (
                F.col(c).isNull() | (F.col(c) < 0.0) | (F.col(c) > 1.0)
            )
            bad = term if bad is None else (bad | term)
        s = rs.agg(
            F.count("*").alias("n"),
            F.sum(bad.cast("long")).alias("viol"),
            F.max(F.when(F.col("doc_id") == plant_id,
                         F.col("dup5_char_frac"))).alias("plant_dup5"),
            F.avg(F.when(F.col("doc_id") != plant_id,
                         F.col("dup5_char_frac"))).alias("organic_dup5"),
        ).first()
        wall_rep = time.time() - t0

        t0 = time.time()
        bl = bigram_logprob(docs)
        b = bl.agg(
            F.count("*").alias("n"),
            F.sum((F.col("ppl_proxy") <= 0.0).cast("long")
                  + F.col("avg_logprob").isNull().cast("long")
                  ).alias("viol"),
            F.max(F.when(F.col("doc_id") == plant_id,
                         F.col("ppl_proxy"))).alias("plant_ppl"),
            F.avg(F.when(F.col("doc_id") != plant_id,
                         F.col("ppl_proxy"))).alias("organic_ppl"),
        ).first()
        wall_bi = time.time() - t0

        def val(x, missing):
            return missing if x is None else float(x)

        violations = int(s.viol or 0) + int(b.viol or 0)
        violations += 0 if s.n == total and b.n == total else 1
        violations += 0 if val(s.plant_dup5, 0.0) == 1.0 else 1
        violations += 0 if val(s.organic_dup5, 1.0) < 0.1 else 1
        violations += (
            0 if val(b.plant_ppl, 1e9)
            < 0.1 * val(b.organic_ppl, 0.0) else 1
        )
        return {
            "leg": f"textfilter_{n_docs}",
            "n_docs": total,
            "plant_dup5": float(s.plant_dup5 or 0),
            "organic_dup5": round(float(s.organic_dup5 or 0), 4),
            "plant_ppl": float(b.plant_ppl or 0),
            "organic_ppl": round(float(b.organic_ppl or 0), 2),
            "wall_sec_repetition": round(wall_rep, 2),
            "wall_sec_bigram": round(wall_bi, 2),
            "violations": violations,
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)


def run_incremental_dedup_leg(spark, n_docs: int) -> dict:
    """The growing-corpus dedup path at scale: a synthetic base
    corpus's incremental layout (LSH bands + stop-filtered shingles +
    sizes + frozen stop set) is built once, then a 1% crawl increment
    (half planted one-token twins of base docs, half fresh docs) is
    deduped against it WITHOUT re-reading the base text. Checks: the
    incremental pair set exactly matches the from-scratch LSH rerun
    over the concatenated corpus restricted to batch-touching pairs,
    every planted twin is recalled, fresh docs pair with nothing, and
    the increment runs well under the full rerun (the point of the
    layout)."""
    import shutil
    import tempfile

    from adcirctime2cogs_spark.operators.dedup import (
        _minhash_base_layout,
        dedup_incremental_pairs,
        dedup_minhash_lsh_pairs,
    )

    root = tempfile.mkdtemp(prefix="scale_incdedup_")
    base_dir = os.path.join(root, "base")
    new_dir = os.path.join(root, "new")
    union_dir = os.path.join(root, "union")
    n_twin = max(1, n_docs // 200)
    n_fresh = max(1, n_docs // 200)
    try:
        os.makedirs(base_dir)
        synth_documents(spark, base_dir, n_docs, twin_every=n_docs + 1)
        base = spark.read.parquet(
            os.path.join(base_dir, "documents.parquet")
        )
        twins = (
            base.filter(F.col("doc_id") % 200 == 50).limit(n_twin)
            .select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"),
                F.concat(
                    F.lit("zqx "),
                    F.expr("substring(text, instr(text, ' ') + 1)"),
                ).alias("text"),
                "lang", "source", F.col("n_chars"),
            )
        )
        fresh = spark.range(n_fresh).select(
            (F.col("id") + 17_000_000).alias("doc_id"),
            F.concat_ws(" ", F.transform(
                F.sequence(F.lit(0), F.lit(59)),
                lambda j: F.concat(
                    F.lit("f"),
                    F.pmod(F.xxhash64(F.col("id") + 17_000_000, j),
                           F.lit(999_983)).cast("string"),
                ),
            )).alias("text"),
            F.lit("en").alias("lang"),
            F.lit("srcF").alias("source"),
            F.lit(0).cast("long").alias("n_chars"),
        )
        newdocs = twins.unionByName(fresh)
        os.makedirs(new_dir)
        newdocs.write.parquet(os.path.join(new_dir, "documents.parquet"))
        os.makedirs(union_dir)
        base.unionByName(
            spark.read.parquet(os.path.join(new_dir, "documents.parquet"))
        ).write.parquet(os.path.join(union_dir, "documents.parquet"))

        t0 = time.time()
        _minhash_base_layout(spark, base_dir)
        t_layout = time.time() - t0

        t0 = time.time()
        inc = dedup_incremental_pairs(spark, base_dir, new_dir)
        s = inc.agg(
            F.count("*").alias("n"),
            F.sum(((F.col("doc_b") >= 10_000_000)
                   & (F.col("doc_b") < 17_000_000)
                   & (F.col("doc_a") == F.col("doc_b") - 10_000_000))
                  .cast("long")).alias("twin_hits"),
            F.sum(((F.col("doc_a") >= 17_000_000)
                   | (F.col("doc_b") >= 17_000_000))
                  .cast("long")).alias("fresh_pairs"),
        ).first()
        t_inc = time.time() - t0

        t0 = time.time()
        touching = (F.col("doc_a") >= 10_000_000) | (
            F.col("doc_b") >= 10_000_000
        )
        n_full = (
            dedup_minhash_lsh_pairs(spark, union_dir)
            .filter(touching).count()
        )
        t_full = time.time() - t0

        violations = 0
        violations += 0 if int(s.twin_hits or 0) == n_twin else 1
        violations += 0 if int(s.fresh_pairs or 0) == 0 else 1
        violations += 0 if int(s.n) == n_full else 1
        return {
            "leg": f"incremental_dedup_{n_docs}",
            "n_base": n_docs,
            "n_increment": n_twin + n_fresh,
            "pairs": int(s.n),
            "twin_recall": round(int(s.twin_hits or 0) / n_twin, 4),
            "wall_sec_layout_once": round(t_layout, 2),
            "wall_sec_increment": round(t_inc, 2),
            "wall_sec_full_rerun": round(t_full, 2),
            "violations": violations,
        }
    finally:
        from adcirctime2cogs_spark import memo
        from adcirctime2cogs_spark.tables import drop_layouts

        memo.clear(spark, union_dir)
        memo.clear(spark, base_dir)
        drop_layouts(spark, base_dir)
        shutil.rmtree(root, ignore_errors=True)


def run_corpus_pipeline_leg(spark, n_docs: int = 250_000) -> dict:
    """The WHOLE corpus-prep pipeline (corpus_pipeline.py) end-to-end
    at planted-truth scale: the same synthetic twin corpus as the LSH
    leg flows through exact dedup -> quality -> fuzzy dedup (the
    exact-Jaccard capped-posting-list path, dedup_corpus_emit — NOT
    probabilistic MinHash banding) -> decontamination -> PII scrub ->
    per-source cap -> shards + card as ONE CLI run with checkpointed
    stage tables. Invariants: (a) the run finishes with monotone
    non-increasing stage counts (the pipeline itself raises on
    growth); (b) NO planted twin pair survives with both members —
    the exact-Jaccard path is deterministic at j~0.92 >= 0.8, so
    there is no banding miss rate to tolerate and any surviving pair
    is a real dedup bug; (c) the dataset card's split totals equal
    the emitted row count. The per-source cap is raised to n_docs
    (policy knob, fixture-calibrated default 8 would reduce any
    corpus to 160 docs) so the twin check stays meaningful."""
    import shutil
    import tempfile

    from adcirctime2cogs_spark.corpus_pipeline import run_corpus_pipeline

    root = tempfile.mkdtemp(prefix="scale_corpuspipe_")
    twin_every = 100
    try:
        n_twins = synth_documents(
            spark, f"{root}/input", n_docs, twin_every=twin_every
        )
        t0 = time.time()
        manifest = run_corpus_pipeline(
            spark,
            {
                "input_dir": f"{root}/input",
                "work_dir": f"{root}/work",
                "out_dir": f"{root}/out",
                "source_cap_n": n_docs,
                # deliberately default stages only: enabling
                # ppl_tail_filter here would drop every planted twin
                # BEFORE fuzzy_dedup (the mutated token is an extreme
                # perplexity outlier), making this leg's fuzzy
                # verification vacuous — the r11 stages get their own
                # leg (run_pipeline_r11_stages_leg)
            },
        )
        wall = time.time() - t0
        final = spark.read.parquet(f"{root}/out/shards")
        ids = final.select("doc_id")
        twins = ids.filter(F.col("doc_id") >= n_docs).select(
            (F.col("doc_id") - n_docs).alias("tw")
        )
        both = (
            ids.filter(
                (F.col("doc_id") < n_docs)
                & (F.col("doc_id") % twin_every == 0)
            )
            .select((F.col("doc_id") / twin_every).cast("long").alias("tw"))
            .join(twins, "tw", "semi")
            .count()
        )
        import json as _json

        card = _json.load(open(manifest["card_path"]))
        card_total = sum(r["n_docs"] for r in card["splits"])
        violations = 0
        if both > 0:  # deterministic exact-Jaccard path: no miss budget
            violations += 1
        if card_total != manifest["rows_out"]:
            violations += 1
        if manifest["rows_out"] <= 0:
            violations += 1
        return {
            "leg": f"corpus_pipeline_{n_docs}",
            "rows_in": manifest["rows_in"],
            "rows_out": manifest["rows_out"],
            "planted_pairs": n_twins,
            "pairs_left_undeduped": both,
            "stage_counts": {
                s["stage"]: s["rows_out"] for s in manifest["stages"]
            },
            "wall_sec": round(wall, 2),
            "violations": violations,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_pipeline_r11_stages_leg(spark, n_docs: int = 250_000) -> dict:
    """The two r11 opt-in pipeline stages end-to-end at corpus scale,
    on the same planted twin corpus as the main pipeline leg but with
    ppl_tail_filter + paragraph_dedup enabled. Invariants are EXACT:
    (a) the tail filter cuts floor(n/3) on a single-language corpus
    (ntile arithmetic: bucket 3 gets exactly n//3 when r = n%3 < 3);
    (b) it drops EVERY planted twin — the mutated token "m<id>"
    appears once in the corpus, so the twin's unigram perplexity is an
    extreme outlier (the CCNet gate doing exactly its job on synthetic
    anomalies); (c) paragraph_dedup is then a no-op row-wise AND
    char-wise — with the twins gone, every surviving 8-token tile is
    xxhash-unique, so first-keeper dedup must rewrite nothing (a
    false-positive detector at 168k docs)."""
    import shutil
    import tempfile

    from adcirctime2cogs_spark.corpus_pipeline import run_corpus_pipeline

    root = tempfile.mkdtemp(prefix="scale_r11stages_")
    try:
        synth_documents(spark, f"{root}/input", n_docs)
        t0 = time.time()
        manifest = run_corpus_pipeline(
            spark,
            {
                "input_dir": f"{root}/input",
                "work_dir": f"{root}/work",
                "out_dir": f"{root}/out",
                "source_cap_n": n_docs,
                "stages": {"ppl_tail_filter": True,
                           "paragraph_dedup": True},
            },
        )
        wall = time.time() - t0
        violations = 0
        seq = [manifest["rows_in"]] + [
            s["rows_out"] for s in manifest["stages"]
        ]
        names = [s["stage"] for s in manifest["stages"]]
        i_ppl = names.index("ppl_tail_filter")
        ppl_exact = seq[i_ppl + 1] == seq[i_ppl] - seq[i_ppl] // 3
        if not ppl_exact:
            violations += 1
        i_para = names.index("paragraph_dedup")
        para_noop_rows = seq[i_para + 1] == seq[i_para]
        if not para_noop_rows:
            violations += 1
        # twins all die at the ppl gate; chars unchanged through the
        # paragraph stage (no tile lost anywhere)
        ppl_dir = next(
            os.path.join(f"{root}/work", d)
            for d in os.listdir(f"{root}/work")
            if d.endswith("_ppl_tail_filter")
        )
        para_dir = next(
            os.path.join(f"{root}/work", d)
            for d in os.listdir(f"{root}/work")
            if d.endswith("_paragraph_dedup")
        )
        surv = spark.read.parquet(os.path.join(ppl_dir, "documents.parquet"))
        twins_surviving = surv.filter(F.col("doc_id") >= n_docs).count()
        if twins_surviving:
            violations += 1
        chars_in = surv.agg(F.sum("n_chars").alias("c")).first()["c"]
        chars_out = (
            spark.read.parquet(os.path.join(para_dir, "documents.parquet"))
            .agg(F.sum("n_chars").alias("c"))
            .first()["c"]
        )
        if chars_in != chars_out:
            violations += 1
        return {
            "leg": f"pipeline_r11_stages_{n_docs}",
            "rows_in": manifest["rows_in"],
            "rows_out": manifest["rows_out"],
            "ppl_cut_exact_third": ppl_exact,
            "twins_surviving_ppl": twins_surviving,
            "paragraph_noop_rows": para_noop_rows,
            "paragraph_chars_preserved": chars_in == chars_out,
            "stage_counts": {
                s["stage"]: s["rows_out"] for s in manifest["stages"]
            },
            "wall_sec": round(wall, 2),
            "violations": violations,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_degenerate_bucket_leg(
    spark, n_dup: int = 100_000, n_normal: int = 20_000
) -> dict:
    """Adversarial mass-duplication: n_dup IDENTICAL docs appended to a
    normal planted-twin corpus. Every clone hashes to the SAME minhash
    signature, so all n_dup land in the same 4 LSH buckets — without
    operators.dedup.LSH_BUCKET_CAP the posting-list enumeration would
    build a 100k-element array in one task and emit ~4 * k^2/2 = 2e10
    candidate pairs from it. With the cap, over-cap buckets take the
    STAR path (O(k) pairs against min doc_id, streamed). Green =
    (a) the run finishes (no straggler/OOM), (b) lsh_bucket_stats
    reports the over-cap buckets and the pairs dropped to star, and
    (c) planted-twin recall on the normal corpus is unharmed. The
    clones themselves emit NO verified pairs by the stop-shingle
    design (every clone shingle has df > DF_CAP, so verified Jaccard
    is vacuously below threshold) — the leg is about candidate-stage
    survival, not clone pair output.

    The leg drives BOTH fuzzy miners (VERDICT r07 item 3): the
    prefix-filter path's mass-dup bound is structural — its index is
    built over stop-filtered shingles, so every posting list is
    <= DF_CAP entries and the clones vanish from the index entirely —
    and the leg pins that it finishes on the same adversarial corpus
    with the same planted-twin recall and zero clone pairs."""
    import shutil
    import tempfile

    from adcirctime2cogs_spark.operators.dedup import (
        dedup_minhash_lsh_pairs,
        dedup_prefix_jaccard,
        lsh_bucket_stats,
    )

    out = tempfile.mkdtemp(prefix="scale_degen_")
    twin_every = 100
    try:
        n_twins = synth_documents(spark, out, n_normal, twin_every=twin_every)
        base_id = n_normal * 2
        boiler = " ".join(f"zq{j}" for j in range(40))
        clones = spark.range(n_dup).select(
            (F.lit(base_id) + F.col("id")).alias("doc_id"),
            F.lit(boiler).alias("text"),
            F.lit("en").alias("lang"),
            F.lit("boiler").alias("source"),
            F.lit(len(boiler)).cast("long").alias("n_chars"),
        )
        clones.write.mode("append").parquet(f"{out}/documents.parquet")
        t0 = time.time()
        stats = lsh_bucket_stats(spark, out)
        pairs = dedup_minhash_lsh_pairs(spark, out)
        is_planted = (
            F.col("doc_b").between(n_normal, n_normal + n_twins - 1)
            & (F.col("doc_a") == (F.col("doc_b") - n_normal) * twin_every)
        )
        agg = pairs.agg(
            F.count("*").alias("total"),
            F.sum(is_planted.cast("long")).alias("hits"),
        ).first()
        wall = time.time() - t0
        hits = int(agg.hits or 0)
        recall = hits / n_twins

        t0 = time.time()
        ppairs = dedup_prefix_jaccard(spark, out)
        pagg = ppairs.agg(
            F.count("*").alias("total"),
            F.sum(is_planted.cast("long")).alias("hits"),
            F.sum(
                ((F.col("doc_a") >= base_id) | (F.col("doc_b") >= base_id))
                .cast("long")
            ).alias("clone_pairs"),
        ).first()
        p_wall = time.time() - t0
        p_hits = int(pagg.hits or 0)
        p_recall = p_hits / n_twins
        p_clone_pairs = int(pagg.clone_pairs or 0)
        return {
            "leg": f"degenerate_bucket_{n_dup}",
            "n_clones": n_dup,
            "n_normal": n_normal + n_twins,
            "over_cap_buckets": stats["n_over_cap"],
            "max_bucket": stats["max_bucket"],
            "pairs_dropped_to_star": stats["pairs_dropped_to_star"],
            "planted": n_twins,
            "found_planted": hits,
            "recall": round(recall, 4),
            "wall_sec": round(wall, 2),
            "prefix_found_planted": p_hits,
            "prefix_recall": round(p_recall, 4),
            "prefix_clone_pairs": p_clone_pairs,
            "prefix_wall_sec": round(p_wall, 2),
            # the leg must BOTH survive and actually exercise the star
            # path (>= 4 over-cap buckets: one per band for the clones);
            # the prefix miner must match recall with zero clone pairs
            "violations": int(recall < 0.98) + int(stats["n_over_cap"] < 4)
            + int(p_recall < 0.98) + int(p_clone_pairs != 0),
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)


def run_prefix_filter_leg(spark, n_docs: int = 250_000) -> dict:
    """Prefix filtering (dedup_prefix_jaccard) vs the full posting-list
    path at planted-truth scale. The technique's 100 TB claim is that
    an inverted index over only each doc's n - ceil(0.8*n) + 1
    rarest-first shingles is (a) ~5x smaller, (b) generates no more
    candidate pairs than the full posting lists, and (c) LOSES NOTHING:
    output pairs byte-identical to dedup_ngram_jaccard and every
    planted twin (j ~ 0.92) recovered. Violations are semantic only —
    walls are informational (±30% ambient swing, BASELINE.md)."""
    import shutil
    import tempfile

    from adcirctime2cogs_spark.operators.dedup import (
        _prefix_candidates,
        _prefix_index,
        _shingle_artifacts,
        _stop_filtered_shingles,
        dedup_ngram_jaccard,
        dedup_prefix_jaccard,
    )

    root = tempfile.mkdtemp(prefix="scale_prefix_")
    twin_every = 100
    try:
        n_twins = synth_documents(spark, root, n_docs, twin_every=twin_every)
        # pair sets are small (~n_twins rows); ONE collect per path
        # serves the count, the mismatch diff, and the twin check —
        # re-running the 250k-doc verification join per metric would
        # multiply the leg's wall for nothing
        t0 = time.time()
        exact_rows = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in dedup_ngram_jaccard(spark, root).collect()
        }
        t_post = time.time() - t0
        t0 = time.time()
        pref_rows = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in dedup_prefix_jaccard(spark, root).collect()
        }
        t_pref = time.time() - t0
        n_exact, n_pref = len(exact_rows), len(pref_rows)
        mismatch = len(exact_rows ^ pref_rows)
        found = {(a, b) for a, b, _ in pref_rows}
        twins_found = sum(
            1
            for b in range(0, n_docs, twin_every)
            if (b, n_docs + b // twin_every) in found
        )
        _sh, _stop, inter = _shingle_artifacts(spark, root)
        full_index = _stop_filtered_shingles(spark, root).count()
        prefix_index = _prefix_index(spark, root).count()
        cand_full = inter.count()
        cand_prefix = _prefix_candidates(spark, root).count()
        violations = (
            int(mismatch > 0)
            + int(twins_found < n_twins)
            + int(cand_prefix > cand_full)
            + int(prefix_index >= full_index)
        )
        return {
            "leg": f"prefix_filter_{n_docs}",
            "pairs": n_exact,
            "pairs_prefix": n_pref,
            "output_mismatch_rows": mismatch,
            "planted": n_twins,
            "found_planted": twins_found,
            "index_entries_full": full_index,
            "index_entries_prefix": prefix_index,
            "index_reduction": round(full_index / max(prefix_index, 1), 2),
            "cand_pairs_full": cand_full,
            "cand_pairs_prefix": cand_prefix,
            "cand_reduction": round(cand_full / max(cand_prefix, 1), 2),
            "wall_posting_sec": round(t_post, 2),
            "wall_prefix_sec": round(t_pref, 2),
            "violations": violations,
        }
    finally:
        from adcirctime2cogs_spark import memo

        memo.clear(spark, root)
        shutil.rmtree(root, ignore_errors=True)


def _hsofs_mesh(n: int, res: float, nx: int, ny: int, n_ts: int):
    """HSOFS-class synthetic mesh arrays: n^2 nodes on the raster's
    bbox, 2*(n-1)^2 CCW triangles (1-based), linear zeta per ts."""
    import numpy as np

    span_x, span_y = (nx - 1) * res, (ny - 1) * res
    lon0, lat0 = -90.0, 20.0
    xs = lon0 + np.linspace(0.0, span_x, n)
    ys = lat0 + np.linspace(0.0, span_y, n)
    lon = np.repeat(xs, n)  # node (i, j) = i * n + j
    lat = np.tile(ys, n)
    i, j = np.meshgrid(np.arange(n - 1), np.arange(n - 1), indexing="ij")
    a = (i * n + j).ravel()
    b = ((i + 1) * n + j).ravel()
    c = (i * n + j + 1).ravel()
    d = ((i + 1) * n + j + 1).ravel()
    element = np.concatenate([
        np.stack([a, b, c], 1), np.stack([b, d, c], 1)
    ]).astype("int32") + 1  # ADCIRC 1-based
    times = np.arange(n_ts, dtype="float64") * 3600.0
    zeta = (
        4.0 * lon - 7.0 * lat + 2.0
        + np.arange(n_ts, dtype="float64")[:, None]
    )
    return lon, lat, element, times, zeta, (lon0, lat0, span_x, span_y)


def run_nc4_ingest_leg(
    spark, n: int = 1350, n_ts: int = 2, node_chunk: int = 200_000
) -> dict:
    """Production-scale NetCDF-4 ingest: the SAME HSOFS-class payload
    written once as classic CDF-1 and once as HDF5/NetCDF-4 (record
    var chunked (1, node_chunk), deflate — ceil(1.8225M/200k)=10
    chunks per timestep, so the split scan plans n_ts*10 byte-range
    tasks from the v1 B-tree). Green = both formats ingest through
    scan_netcdf_split to IDENTICAL aggregate checksums. This is the
    pure-Python HDF5 codec's scale proof: multi-chunk deflate decode
    of a 1.8M-node record variable, distributed."""
    import shutil
    import tempfile

    import numpy as np

    from adcirctime2cogs_spark.sources import hdf5
    from adcirctime2cogs_spark.sources import netcdf3 as nc3
    from adcirctime2cogs_spark.sources.netcdf import scan_netcdf_split

    work = tempfile.mkdtemp(prefix="scale_nc4_")
    try:
        lon, lat, element, times, zeta, _ = _hsofs_mesh(
            n, 0.005, 8838, 8000, n_ts
        )
        p3, p4 = f"{work}/c.nc", f"{work}/h.nc"
        t0 = time.time()
        nc3.write_classic(
            p3,
            dims=[("time", None), ("node", n * n)],
            variables=[
                {"name": "time", "dims": ["time"], "data": times,
                 "atts": {"units": "seconds since 2000-01-01 00:00:00"}},
                {"name": "zeta", "dims": ["time", "node"], "data": zeta,
                 "atts": {"_FillValue": -99999.0}},
            ],
        )
        t_write3 = time.time() - t0
        t0 = time.time()
        hdf5.write_netcdf4(
            p4,
            dims={"time": None, "node": n * n},
            variables={
                "time": (("time",), times,
                         {"units": "seconds since 2000-01-01 00:00:00"}),
                "zeta": (("time", "node"), zeta,
                         {"_FillValue": np.float64(-99999.0)}),
            },
            compress=4,
            node_chunk=node_chunk,
        )
        t_write4 = time.time() - t0

        def checksum(path):
            # integer row-hash sum: float sums at ~1e15 carry more
            # fold-order noise than any rounding can absorb (partition
            # count differs between formats/planners), while a sum of
            # per-row int64 hashes in decimal(38,0) is exact,
            # order-independent, and never overflows under ANSI mode
            df = scan_netcdf_split(spark, path, "zeta")
            row = df.agg(
                F.count("*").alias("c"),
                F.sum(
                    F.xxhash64(F.round(F.col("value"), 6), F.col("node_id"))
                    .cast("decimal(38,0)")
                ).alias("h"),
            ).first()
            return int(row.c), int(row.h)

        checksum(p3)  # warm the scan path once: the first query in a
        # session pays JVM/codegen startup that would skew whichever
        # format happened to run first
        t0 = time.time()
        c3 = checksum(p3)
        t_ingest3 = time.time() - t0
        t0 = time.time()
        c4 = checksum(p4)
        t_ingest4 = time.time() - t0
        n_splits4 = len(hdf5.nc4_splitter(p4, 0, "zeta"))

        # the same payload as a 'latest' file (superblock v3, v2
        # OHDRs, extensible-array chunk index — what h5py
        # libver='latest' writes): the r08 reader surface at the
        # production node count, checksum-identical to both others
        p5 = f"{work}/latest.nc"
        t0 = time.time()
        hdf5.write_netcdf4(
            p5,
            dims={"time": None, "node": n * n},
            variables={
                "time": (("time",), times,
                         {"units": "seconds since 2000-01-01 00:00:00"}),
                "zeta": (("time", "node"), zeta,
                         {"_FillValue": np.float64(-99999.0)}),
            },
            compress=4,
            node_chunk=node_chunk,
            layout="latest",
        )
        t_write5 = time.time() - t0
        t0 = time.time()
        c5 = checksum(p5)
        t_ingest5 = time.time() - t0
        n_splits5 = len(hdf5.nc4_splitter(p5, 0, "zeta"))
        with open(p5, "rb") as fh5:
            raw5 = fh5.read(64)
        import os as _os

        return {
            "leg": "production_nc4_ingest",
            "n_nodes": n * n,
            "n_ts": n_ts,
            "nc3_bytes": _os.path.getsize(p3),
            "nc4_bytes": _os.path.getsize(p4),
            "nc4_latest_bytes": _os.path.getsize(p5),
            "nc4_splits": n_splits4,
            "rows": c3[0],
            "wall_write_nc3": round(t_write3, 2),
            "wall_write_nc4": round(t_write4, 2),
            "wall_write_latest": round(t_write5, 2),
            "wall_ingest_nc3": round(t_ingest3, 2),
            "wall_ingest_nc4": round(t_ingest4, 2),
            "wall_ingest_latest": round(t_ingest5, 2),
            "violations": int(c3 != c4) + int(c3 != c5)
            + int(n_splits4 != n_ts * -(-(n * n) // node_chunk))
            + int(n_splits5 != n_splits4)  # EA index must plan all chunks
            + int(raw5[8] != 3),  # must really be a v3 superblock
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_production_e2e_leg(
    spark,
    n: int = 1350,
    res: float = 0.005,
    nx: int = 8838,
    ny: int = 8000,
    n_ts: int = 2,
) -> dict:
    """The reference's ACTUAL production job, end-to-end from real .nc
    bytes: an HSOFS-class mesh (n^2 = 1.8225M nodes, 2*(n-1)^2 = 3.64M
    triangles — the reference's 1.81M/3.56M geometry) written as a
    REAL classic NetCDF-3 fort.63.nc, ingested distributed via the
    per-record byte-range scan (adcirc_nc_to_tables), then the full
    CLI dataflow (pipeline.run_pipeline): bbox -> 8838x8000-edge grid
    (the reference's production raster, run/adcircTime2cogs.py:151-158)
    -> weights -> all-ts regrid -> REAL pure-Python COG bytes at
    8837x7999 = 70.66M pixels/timestep -> mosaic sidecars -> zip.

    zeta is a linear field (4*lon - 7*lat + 2 + t), so barycentric
    interpolation is EXACT: every non-nodata pixel of the final COG
    bytes is checked against closed-form expectation (read back via
    read_geotiff, chunked rows so verification adds no memory spike).
    Records per-phase wall plus driver peak RSS — this leg is the
    scale proof for the COG writer at 70.7M-pixel images, the one
    surface the synthetic legs never exercised."""
    import resource
    import shutil
    import tempfile

    import numpy as np

    from adcirctime2cogs_spark.pipeline import run_pipeline
    from adcirctime2cogs_spark.sinks.geotiff import read_geotiff
    from adcirctime2cogs_spark.sources import netcdf3 as nc3
    from adcirctime2cogs_spark.sources.netcdf import adcirc_nc_to_tables

    work = tempfile.mkdtemp(prefix="scale_prod_")
    try:
        # ---- real fort.63.nc -----------------------------------------
        t0 = time.time()
        lon, lat, element, times, zeta, box = _hsofs_mesh(
            n, res, nx, ny, n_ts
        )
        lon0, lat0, span_x, span_y = box
        nc_path = f"{work}/fort.63.nc"
        nc3.write_classic(
            nc_path,
            dims=[("time", None), ("node", n * n),
                  ("nele", len(element)), ("nvertex", 3)],
            variables=[
                {"name": "time", "dims": ["time"], "data": times,
                 "atts": {"units": "seconds since 2000-01-01 00:00:00"}},
                {"name": "x", "dims": ["node"], "data": lon},
                {"name": "y", "dims": ["node"], "data": lat},
                {"name": "depth", "dims": ["node"],
                 "data": np.full(n * n, 100.0)},
                {"name": "element", "dims": ["nele", "nvertex"],
                 "data": element},
                {"name": "zeta", "dims": ["time", "node"], "data": zeta,
                 "atts": {"_FillValue": -99999.0, "units": "m"}},
            ],
            gatts={"model": "ADCIRC", "grid": "hsofs-scale synthetic"},
        )
        t_nc = time.time() - t0

        # ---- distributed ingest (per-record byte-range tasks) --------
        t0 = time.time()
        tables = f"{work}/tables"
        adcirc_nc_to_tables(spark, nc_path, tables, "zeta")
        t_ingest = time.time() - t0

        # ---- the production pipeline ---------------------------------
        t0 = time.time()
        result = run_pipeline(
            spark, tables, f"{work}/out", f"{work}/final", "zeta", res
        )
        t_pipeline = time.time() - t0

        # ---- verify the actual COG bytes -----------------------------
        t0 = time.time()
        import glob as _glob

        cogs = sorted(_glob.glob(f"{result.cog_dir}/zeta.*"))
        violations, nodata, checked = 0, 0, 0
        nrows = ncols = 0
        for k, cog in enumerate(cogs):
            arr, tags = read_geotiff(cog)
            nrows, ncols = arr.shape
            # grid_spec_from_bbox ceil can add one edge beyond the
            # requested raster — the extra rim just reads as nodata
            assert nx - 1 <= ncols <= nx and ny - 1 <= nrows <= ny, arr.shape
            cx = lon0 + (np.arange(ncols) + 0.5) * res
            for r0 in range(0, nrows, 512):
                block = arr[r0:r0 + 512]
                cy = (lat0 + span_y) - (np.arange(r0, r0 + block.shape[0])
                                        + 0.5) * res
                exp = 4.0 * cx[None, :] - 7.0 * cy[:, None] + 2.0 + k
                bad = np.isnan(block)
                nodata += int(bad.sum())
                # EXACT coverage invariant: the mesh hull is the bbox
                # rectangle, so every centroid strictly inside it must
                # interpolate (no holes) and the ceil-extra rim beyond
                # it must be nodata — both directions are violations
                interior = (
                    (cy[:, None] > lat0) & (cy[:, None] < lat0 + span_y)
                    & (cx[None, :] > lon0) & (cx[None, :] < lon0 + span_x)
                )
                violations += int((bad & interior).sum())  # hole
                violations += int((~bad & ~interior).sum())  # rim value
                ok = ~bad
                checked += int(ok.sum())
                violations += int(
                    (np.abs(block[ok] - exp[ok]) > 1e-6).sum()
                )
        coverage = checked / (len(cogs) * nrows * ncols)
        t_verify = time.time() - t0

        import os as _os

        peak_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024
        cog_bytes = sum(_os.path.getsize(p) for p in cogs)
        return {
            "leg": "production_e2e_hsofs",
            "n_nodes": n * n,
            "n_elements": len(element),
            "n_ts": n_ts,
            "raster": f"{nrows}x{ncols}",
            "pixels_per_ts": nrows * ncols,
            "nc_bytes": _os.path.getsize(nc_path),
            "cog_bytes": cog_bytes,
            "n_cogs": len(cogs),
            "sidecars": len(result.sidecars),
            "archive": bool(result.archive and _os.path.exists(result.archive)),
            "coverage": round(coverage, 6),
            "wall_write_nc": round(t_nc, 2),
            "wall_ingest": round(t_ingest, 2),
            "wall_pipeline": round(t_pipeline, 2),
            "pipeline_phases": result.timings,
            "wall_verify": round(t_verify, 2),
            "cells_per_sec": int(len(cogs) * nrows * ncols / t_pipeline),
            "driver_peak_rss_mb": int(peak_rss_mb),
            "violations": violations
            + int(len(cogs) != n_ts)
            + int(not result.archive),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_production_multivar_leg(
    spark,
    n: int = 800,
    res: float = 0.005,
    nx: int = 2500,
    ny: int = 2300,
    n_ts: int = 2,
) -> dict:
    """VERDICT r09 #7: measure the engine's headline structural win
    over the reference — N variables on ONE regrid shuffle — with
    real numbers. The reference's CLI takes a single inputVariable
    and reruns the ENTIRE job per variable
    (run/adcircTime2cogs.py:266): scenario A reproduces that shape
    faithfully by running the complete single-variable pipeline TWICE
    through pipeline.run_pipeline (each pass pays its own weights
    build + regrid + COG + sidecars + zip). Scenario B is the
    engine's multi-variable plan: weights built ONCE, both variables
    regridded in one join+aggregation (plans/regrid.regrid_multi —
    extra variables are extra sum(w*v) aggregates on the same
    shuffle), then the same two COG sets + sidecars + zips. The wide
    (ts, node, zeta, vel) table is assembled by an equi-join of the
    two ingested single-variable tables and that join is INSIDE
    scenario B's timed wall (at production scale the ingest would be
    wide to begin with, so this is the conservative accounting).

    Green = scenario B's COG rasters match scenario A's cell-for-cell
    (<= 1e-9; same 3-term barycentric sums, order-of-fold tolerance
    only) and the REGRID-stage ratio (two single-variable join+agg
    passes vs one regrid_multi pass over the same cached weights and
    pre-built wide table) exceeds 1. The end-to-end walls are
    recorded but not gated: at this leg size the per-variable COG
    encode — paid equally in both scenarios — is roughly half of
    each wall, so the end-to-end ratio sits near sqrt of the regrid
    ratio and ambient load can push a single observation under 1
    (observed 1.58 quiet, 0.91 under load); the stage-level ratio is
    the stable measurement of the structural claim."""
    import glob as _glob
    import shutil
    import tempfile

    import numpy as np

    from adcirctime2cogs_spark.pipeline import run_pipeline
    from adcirctime2cogs_spark.plans.grid import (
        bounding_box,
        grid_spec_from_bbox,
        raster_cells,
    )
    from adcirctime2cogs_spark.plans.regrid import regrid_multi
    from adcirctime2cogs_spark.plans.weights import build_weights
    from adcirctime2cogs_spark.sinks.cog import write_cogs
    from adcirctime2cogs_spark.sinks.geotiff import read_geotiff
    from adcirctime2cogs_spark.sinks.sidecar import (
        archive_output,
        write_mosaic_sidecars,
    )
    from adcirctime2cogs_spark.sources import netcdf3 as nc3
    from adcirctime2cogs_spark.sources.mesh import load_mesh, load_timeseries
    from adcirctime2cogs_spark.sources.netcdf import adcirc_nc_to_tables

    work = tempfile.mkdtemp(prefix="scale_multivar_")
    try:
        lon, lat, element, times, zeta, _box = _hsofs_mesh(
            n, res, nx, ny, n_ts
        )
        # second linear field with different coefficients, so a
        # variable mix-up between the two aggregates cannot cancel out
        vel = (
            -2.0 * lon + 3.0 * lat + 5.0
            + 10.0 * np.arange(n_ts, dtype="float64")[:, None]
        )
        nc_path = f"{work}/fort.63.nc"
        nc3.write_classic(
            nc_path,
            dims=[("time", None), ("node", n * n),
                  ("nele", len(element)), ("nvertex", 3)],
            variables=[
                {"name": "time", "dims": ["time"], "data": times,
                 "atts": {"units": "seconds since 2000-01-01 00:00:00"}},
                {"name": "x", "dims": ["node"], "data": lon},
                {"name": "y", "dims": ["node"], "data": lat},
                {"name": "depth", "dims": ["node"],
                 "data": np.full(n * n, 100.0)},
                {"name": "element", "dims": ["nele", "nvertex"],
                 "data": element},
                {"name": "zeta", "dims": ["time", "node"], "data": zeta,
                 "atts": {"_FillValue": -99999.0, "units": "m"}},
                {"name": "vel", "dims": ["time", "node"], "data": vel,
                 "atts": {"_FillValue": -99999.0, "units": "m s-1"}},
            ],
            gatts={"model": "ADCIRC", "grid": "multivar synthetic"},
        )
        tables = {}
        for var in ("zeta", "vel"):
            tables[var] = f"{work}/tables_{var}"
            adcirc_nc_to_tables(spark, nc_path, tables[var], var)

        # ---- scenario A: the reference's shape — one full
        # single-variable pipeline run per variable -----------------
        t0 = time.time()
        results = {}
        for var in ("zeta", "vel"):
            results[var] = run_pipeline(
                spark, tables[var], f"{work}/out_single",
                f"{work}/final_single_{var}", var, res,
            )
        wall_two_single = time.time() - t0

        # ---- scenario B: weights once, both variables on one
        # shuffle, same sinks ----------------------------------------
        t0 = time.time()
        nodes, elements = load_mesh(spark, tables["zeta"])
        ts_zeta = load_timeseries(spark, tables["zeta"], "zeta")
        ts_vel = load_timeseries(spark, tables["vel"], "vel")
        wide = (
            ts_zeta.withColumnRenamed("value", "zeta")
            .join(ts_vel.withColumnRenamed("value", "vel"),
                  ["ts", "node_id"])
        )
        spec = grid_spec_from_bbox(bounding_box(nodes), res)
        cells = raster_cells(spark, spec)
        weights = build_weights(
            cells, nodes, elements, bin_size=res * 4.0
        ).cache()
        weights.count()
        broadcast_ts = wide.count() * 24 < 64 * 1024 * 1024
        multi = regrid_multi(
            weights, wide, ["zeta", "vel"], broadcast_ts=broadcast_ts
        ).cache()
        multi.count()  # THE one shuffle both variables share
        archives = 0
        for var in ("zeta", "vel"):
            cog_dir = f"{work}/out_multi/{var}"
            write_cogs(
                multi.select("ts", "cell_id", "grid_row", "grid_col",
                             F.col(var).alias("value")),
                spec, cog_dir, prefix=var,
            ).collect()
            write_mosaic_sidecars(cog_dir, f"{var}_mosaic")
            archives += int(bool(
                archive_output(cog_dir, f"{work}/final_multi_{var}")
            ))
        multi.unpersist()
        wall_multi = time.time() - t0

        # ---- the GATED measurement: regrid stage only, over the
        # SAME cached weights, with the multi cache already dropped
        # (leaving it live would let Spark's CacheManager serve the
        # timed multi pass from memory — measured as a bogus 10-17x).
        # Inputs are cache-SYMMETRIC: the wide table AND both
        # single-variable timeseries are pre-cached, so neither side's
        # timed pass pays input I/O and the ratio isolates the
        # join+agg structure (a parquet scan on the single side only
        # would bias the gate upward). Two single join+agg passes vs
        # one regrid_multi pass, no COG noise — this is where the
        # one-shuffle structural claim lives, so this ratio is gated.
        from adcirctime2cogs_spark.plans.regrid import regrid as _regrid

        wide_c = wide.cache()
        ts_zeta_c = ts_zeta.cache()
        ts_vel_c = ts_vel.cache()
        for df in (wide_c, ts_zeta_c, ts_vel_c):
            df.count()
        t1 = time.time()
        _regrid(weights, ts_zeta_c, broadcast_ts=broadcast_ts).write.format(
            "noop").mode("overwrite").save()
        _regrid(weights, ts_vel_c, broadcast_ts=broadcast_ts).write.format(
            "noop").mode("overwrite").save()
        t_regrid_two_single = time.time() - t1
        t1 = time.time()
        regrid_multi(
            weights, wide_c, ["zeta", "vel"], broadcast_ts=broadcast_ts
        ).write.format("noop").mode("overwrite").save()
        t_regrid_multi = time.time() - t1
        for df in (wide_c, ts_zeta_c, ts_vel_c):
            df.unpersist()
        weights.unpersist()

        # ---- verify: scenario B rasters == scenario A rasters ------
        violations = 0
        checked = 0
        for var in ("zeta", "vel"):
            a_cogs = sorted(_glob.glob(f"{results[var].cog_dir}/{var}.*"))
            # vacuity guard (the e2e leg's len(cogs) != n_ts check): a
            # naming-scheme drift that empties the glob must read as
            # red, not as 0 rasters compared cleanly
            violations += int(len(a_cogs) != n_ts)
            b_dir = f"{work}/out_multi/{var}"
            for a_path in a_cogs:
                b_path = os.path.join(b_dir, os.path.basename(a_path))
                if not os.path.exists(b_path):
                    violations += 1
                    continue
                arr_a, _ = read_geotiff(a_path)
                arr_b, _ = read_geotiff(b_path)
                same_mask = np.isnan(arr_a) == np.isnan(arr_b)
                violations += int((~same_mask).sum())
                ok = same_mask & ~np.isnan(arr_a)
                checked += int(ok.sum())
                violations += int(
                    (np.abs(arr_a[ok] - arr_b[ok]) > 1e-9).sum()
                )
        ratio = wall_two_single / wall_multi if wall_multi else 0.0
        regrid_ratio = (
            t_regrid_two_single / t_regrid_multi if t_regrid_multi else 0.0
        )
        return {
            "leg": "production_multivar_regrid",
            "n_nodes": n * n,
            "n_ts": n_ts,
            "pixels_per_ts": (ny - 1) * (nx - 1),
            "n_variables": 2,
            "wall_two_single_runs": round(wall_two_single, 2),
            "wall_multi_one_shuffle": round(wall_multi, 2),
            "single_over_multi_ratio": round(ratio, 2),
            "regrid_two_single_sec": round(t_regrid_two_single, 2),
            "regrid_multi_sec": round(t_regrid_multi, 2),
            "regrid_stage_ratio": round(regrid_ratio, 2),
            "cells_checked": checked,
            "violations": violations
            + int(archives != 2)
            + int(regrid_ratio <= 1.0),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def synth_embeddings(spark, out_dir: str, n_vecs: int, dim: int = 32,
                     n_probes: int = 5) -> None:
    """Fixture-shaped embeddings.parquet: n_vecs deterministic
    pseudo-random vectors (sin arithmetic over vec_id — column math,
    no RNG) plus one slightly-perturbed twin per probe vector at
    vec_id n_vecs + q."""
    def vec(content, eps: float):
        # xxhash64-derived uniform [-1, 1] per (id, dim): a sin(phase)
        # formula makes every vector a point on a 1-D phase manifold
        # where chance phase-neighbors are CLOSER than the planted
        # twins — decorrelate dims with a real hash instead
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (
                (F.pmod(F.xxhash64(content, j), F.lit(2000001)) - 1000000)
                / 1000000.0
                + F.cos(j * 1.7) * eps
            ).cast("float"),
        )

    base = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"), vec(F.col("id"), 0.0).alias("embedding")
    )
    twins = spark.range(n_probes).select(
        (F.lit(n_vecs) + F.col("id")).alias("vec_id"),
        vec(F.col("id"), 0.01).alias("embedding"),
    )
    base.unionAll(twins).select(
        "vec_id", "embedding", F.lit(0).cast("int").alias("label")
    ).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")


def run_corpus_ann_leg(spark, n_vecs: int) -> dict:
    """Multi-table sign-LSH ANN at corpus scale: each of the 5 probe
    vectors has a planted near-identical twin (cosine ≈ 0.9999) that
    the registered sim_topk_bucketed must surface in its top-5 —
    the recall contract at 1000x the fixture size, plus the wall-time
    evidence that bucketing (not brute force) carries the cost."""
    import shutil
    import tempfile

    from adcirctime2cogs_spark.operators.similarity import (
        N_QUERY_VECS,
        sim_topk_bucketed,
    )

    out = tempfile.mkdtemp(prefix="scale_ann_")
    try:
        synth_embeddings(spark, out, n_vecs, n_probes=N_QUERY_VECS)
        t0 = time.time()
        top = sim_topk_bucketed(spark, out).collect()
        wall = time.time() - t0
        found = {
            (r.q_id, r.c_id) for r in top
        }
        hits = sum(
            1 for q in range(N_QUERY_VECS) if (q, n_vecs + q) in found
        )
        return {
            "leg": f"corpus_ann_{n_vecs}",
            "n_vecs": n_vecs + N_QUERY_VECS,
            "probes": N_QUERY_VECS,
            "twin_hits": hits,
            "wall_sec": round(wall, 2),
            "violations": 0 if hits >= N_QUERY_VECS - 1 else 1,
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)


def run_corpus_pq_leg(spark, n_vecs: int) -> dict:
    """Product quantization at corpus scale: 1M 64-dim vectors PQ-
    encoded (map-only) plus the registered ADC scan. What PQ actually
    guarantees at this codebook size (16 cells/subspace over 1M
    uniform vectors -> ~15 vectors per code) is SHORTLIST quality,
    not exact top-5 — production stacks rerank the ADC shortlist with
    exact distances. Green =
    (a) EVERY probe's planted twin lands in the SAME 4-symbol code
        cell (encode preserves locality through 64x compression),
    (b) every twin's ADC distance sits inside the top 1e-4 quantile of
        the corpus (a 100-deep shortlist would carry it to rerank),
    (c) the full encode+scan finishes at corpus scale.
    The registered top-5's literal twin hits are reported
    informationally (ties inside a code cell break by id)."""
    import shutil
    import tempfile

    from adcirctime2cogs_spark.operators.similarity import (
        EMB_DIM,
        N_QUERY_VECS,
        PQ_SHORTLIST,
        pq_adc_scored,
        sim_topk_pq_adc,
        sim_topk_pq_rerank,
        vec_pq_encode,
    )

    out = tempfile.mkdtemp(prefix="scale_pq_")
    try:
        synth_embeddings(spark, out, n_vecs, dim=EMB_DIM,
                         n_probes=N_QUERY_VECS)
        t0 = time.time()
        codes = vec_pq_encode(spark, out)
        probe_ids = list(range(N_QUERY_VECS))
        twin_ids = [n_vecs + q for q in probe_ids]
        small = {
            r.vec_id: (r.c0, r.c1, r.c2, r.c3)
            for r in codes.filter(
                F.col("vec_id").isin(probe_ids + twin_ids)
            ).collect()
        }
        n_codes = codes.count()
        t_encode = time.time() - t0
        same_cell = sum(
            1 for q in probe_ids if small[q] == small[n_vecs + q]
        )
        t0 = time.time()
        top = sim_topk_pq_adc(spark, out).collect()
        t_scan = time.time() - t0
        hits = sum(
            1 for q in probe_ids
            if (q, n_vecs + q) in {(r.q_id, r.c_id) for r in top}
        )
        # shortlist quality via the SHARED scoring plan (the exact
        # formula the registered query ranks with): count vectors
        # strictly closer than each probe's twin
        scored = pq_adc_scored(spark, out)
        twin_adc = scored.filter(
            F.col("c_id") == F.col("q_id") + n_vecs
        ).select("q_id", F.col("adc").alias("twin_adc"))
        ranks = (
            scored.join(F.broadcast(twin_adc), "q_id")
            .groupBy("q_id")
            .agg(
                F.sum((F.col("adc") < F.col("twin_adc")).cast("long"))
                .alias("n_closer")
            )
            .collect()
        )
        budget = PQ_SHORTLIST
        shortlist_ok = sum(1 for r in ranks if r.n_closer < budget)
        # the registered shortlist->exact query (VERDICT r07 item 6):
        # a twin inside the ADC shortlist MUST surface at exact-rerank
        # top-5 (cosine ~ 0.9999 beats every non-twin)
        t0 = time.time()
        rr = sim_topk_pq_rerank(spark, out).collect()
        t_rerank = time.time() - t0
        rr_hits = sum(
            1 for q in probe_ids
            if (q, n_vecs + q) in {(r.q_id, r.c_id) for r in rr}
        )
        return {
            "leg": f"corpus_pq_{n_vecs}",
            "n_vecs": n_codes,
            "probes": N_QUERY_VECS,
            "twin_same_code_cell": same_cell,
            "twin_in_shortlist": shortlist_ok,
            "shortlist_budget": budget,
            "top5_twin_hits_informational": hits,
            "rerank_twin_hits": rr_hits,
            "wall_encode_sec": round(t_encode, 2),
            "wall_adc_scan_sec": round(t_scan, 2),
            "wall_rerank_sec": round(t_rerank, 2),
            "violations": int(n_codes != n_vecs + N_QUERY_VECS)
            + (0 if same_cell == N_QUERY_VECS else 1)
            + (0 if shortlist_ok == N_QUERY_VECS else 1)
            + (0 if rr_hits >= shortlist_ok else 1),
        }
    finally:
        from adcirctime2cogs_spark.tables import drop_layouts

        # the PQ queries materialized pq_codes for this tempdir corpus
        # in the shared warehouse; no later run can address it
        drop_layouts(spark, out)
        shutil.rmtree(out, ignore_errors=True)


def run_nb_classifier_leg(spark, n_docs: int = 1_000_000) -> dict:
    """Trained-classifier leg: text_nb_classify runs UNCHANGED on a
    synthetic 1M-doc corpus whose texts are 70% class-specific vocab
    (4 disjoint 200-word pools) / 30% shared noise — so a correctly
    fit multinomial NB must recover the label almost always (the
    Bayes-optimal rate here is ~1.0; the gate is accuracy >= 0.95).
    Content is pure column arithmetic from doc_id (xxhash64 mixing,
    no RNG, no driver rows); the classifier's one wide shuffle is the
    tokens x counts join, so the wall scales with corpus tokens, not
    vocab x classes."""
    import shutil
    import tempfile

    from adcirctime2cogs_spark.operators.textstats import text_nb_classify

    out = tempfile.mkdtemp(prefix="scale_nb_")
    n_tokens, class_vocab, noise_vocab = 20, 200, 2000
    try:
        lang = F.concat(F.lit("l"), (F.col("id") % 4).cast("string"))

        def word(j):
            h = F.xxhash64(F.col("id"), j)
            cls_w = F.concat(
                F.lit("c"), (F.col("id") % 4).cast("string"), F.lit("_"),
                F.pmod(h, F.lit(class_vocab)).cast("string"),
            )
            noise_w = F.concat(
                F.lit("n"), F.pmod(h, F.lit(noise_vocab)).cast("string")
            )
            return F.when(
                F.pmod(F.xxhash64(F.col("id"), j, F.lit(1)), F.lit(10)) < 7,
                cls_w,
            ).otherwise(noise_w)

        text = F.concat_ws(
            " ", F.transform(F.sequence(F.lit(0), F.lit(n_tokens - 1)), word)
        )
        docs = spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            text.alias("text"),
            lang.alias("lang"),
            F.concat(F.lit("src"), (F.col("id") % 20).cast("string")).alias(
                "source"
            ),
            F.length(text).cast("long").alias("n_chars"),
        )
        docs.write.mode("overwrite").parquet(f"{out}/documents.parquet")
        t0 = time.time()
        pred = text_nb_classify(spark, out)
        stats = pred.agg(
            F.count("*").alias("n"),
            F.sum("hit").alias("hits"),
        ).first()
        wall = time.time() - t0
        acc = (stats.hits or 0) / stats.n if stats.n else 0.0
        return {
            "leg": f"nb_classifier_{n_docs}",
            "n_docs": stats.n,
            "accuracy": round(acc, 4),
            "wall_sec": round(wall, 2),
            "violations": 0 if (stats.n == n_docs and acc >= 0.95) else 1,
        }
    finally:
        from adcirctime2cogs_spark import memo

        memo.clear(spark, out)
        shutil.rmtree(out, ignore_errors=True)


def run_media_leg(spark, n_docs: int = 50_000) -> dict:
    """Multimodal throughput leg: mm_mp4_frame_stats runs UNCHANGED on
    a synthetic n_docs corpus — every doc is MUXED into a Photo-JPEG
    MP4 (JPEG encode per frame), DEMUXED (box walk + sample-table
    reconstruction) and JPEG-decoded, all executor-side in Arrow
    batches (one id-only conditional repartition, then a single map
    stage). Checked analytically: the frame count must be
    sum(2 + d%5) exactly and every decoded frame must be flat (one
    color) — a single mis-sliced sample byte range breaks JPEG
    parsing and the count. Reports frames/sec; the heavy work is a
    map stage, so 100 TB of crawled video scales by adding
    executors."""
    import shutil
    import tempfile

    from adcirctime2cogs_spark.operators.multimodal import (
        mm_mp4_frame_stats,
    )

    out = tempfile.mkdtemp(prefix="scale_media_")
    try:
        spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            F.lit("x").alias("text"),
            F.lit("en").alias("lang"),
            F.lit("src0").alias("source"),
            F.lit(1).cast("long").alias("n_chars"),
        ).write.mode("overwrite").parquet(f"{out}/documents.parquet")
        expect = sum(2 + d % 5 for d in range(n_docs))
        t0 = time.time()
        stats = mm_mp4_frame_stats(spark, out).agg(
            F.count("*").alias("frames"),
            F.sum((F.col("flat") == 0).cast("long")).alias("nonflat"),
        ).first()
        wall = time.time() - t0
        return {
            "leg": f"media_mp4_{n_docs}",
            "n_docs": n_docs,
            "frames": stats.frames,
            "frames_per_sec": round(stats.frames / wall, 1) if wall else 0,
            "wall_sec": round(wall, 2),
            "violations": 0 if (stats.frames == expect
                                and not stats.nonflat) else 1,
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)


def run_mih_amplification_leg(spark, n_hashes: int,
                              twin_every: int = 100) -> dict:
    """MIH candidate-volume leg (VERDICT r10 #5): measure the
    multi-index-hashing probe amplification and candidate counts of
    mm_image_phash_pairs' candidate kernel at corpus scale, without
    the codec CPU in the way — the join is fed synthetic random
    64-bit hashes directly (xxhash64 of the id: uniform, so bucket
    collisions follow the n^2/2^w birthday arithmetic the docstring
    promises) plus one planted twin per twin_every docs at exactly
    PHASH_HAM_MAX bit flips (the verify ceiling — the hardest pair
    the candidate stage must still surface).

    Pins / reports:
    - probe_amplification: the structural map-side constant 64 + m
      rows per hash (m = ceil((max_ham+1)/2) bands) — asserted
      against _mih_band_specs, the documented ~69x at ceiling 8;
    - recall: every planted ceiling-distance twin must appear in the
      VERIFIED pairs (violations counts misses — the full-ceiling
      pigeonhole guarantee at scale);
    - candidate_pairs / candidates_per_hash: the join-output birthday
      term sum_bands n^2 (w+1) / 2^(w+1) — ~n^2/200 at ceiling 8
      (measured 50.9M distinct pairs at n=101k = n^2/200.6), the REAL
      large-n cost (the verify is a codegen'd bit_count, so candidate
      volume, not verify CPU, is what a 100 TB deployment budgets;
      run at two n's to see the quadratic term directly).
      Counted via an observation riding the verify pass — the
      candidate frame is never collected;
    - groups_over_cap / max_group_size read from the in-band starcap
      observation riding the SAME action (no separate stats job).
    """
    from adcirctime2cogs_spark.operators.multimodal import (
        PHASH_HAM_MAX,
        _mih_band_specs,
        _mih_candidate_pairs,
    )
    from adcirctime2cogs_spark.operators.starcap import (
        observed_star_metrics,
    )

    m_bands = len(_mih_band_specs(PHASH_HAM_MAX))
    amp = 64 + m_bands
    n_twins = n_hashes // twin_every
    base = spark.range(n_hashes).select(
        F.col("id").alias("doc_id"), F.xxhash64("id").alias("h")
    )
    # twin of base doc b*twin_every: flip PHASH_HAM_MAX spread-out
    # bits (positions 7k+3 mod 64 are distinct for k < 9)
    flip = 0
    for k in range(PHASH_HAM_MAX):
        flip |= 1 << ((7 * k + 3) % 64)
    twins = spark.range(n_twins).select(
        (F.lit(n_hashes) + F.col("id")).alias("doc_id"),
        F.xxhash64(F.col("id") * twin_every)
        .bitwiseXOR(F.lit(flip)).alias("h"),
    )
    hashes = base.unionAll(twins)

    t0 = time.time()
    cand = _mih_candidate_pairs(hashes, "h", PHASH_HAM_MAX).observe(
        "mihleg:cand", F.count(F.lit(1)).alias("rows")
    )
    ver = cand.filter(F.expr(f"bit_count(ha ^ hb) <= {PHASH_HAM_MAX}"))
    ver_rows = ver.collect()  # verified set IS near-linear -> small
    wall = time.time() - t0
    star = observed_star_metrics(ver).get("mih_bucket", {})
    n_cand = observed_star_metrics(ver, "mihleg:")["cand"]["rows"]
    verified = {(r.doc_a, r.doc_b) for r in ver_rows}
    planted = {
        (b * twin_every, n_hashes + b) for b in range(n_twins)
    }
    missed = planted - verified
    total = n_hashes + n_twins
    return {
        "leg": f"mih_amplification_{n_hashes}",
        "n_hashes": total,
        "m_bands": m_bands,
        "probe_amplification": amp,
        "probe_rows": total * amp,
        "candidate_pairs": n_cand,
        "candidates_per_hash": round(n_cand / total, 2),
        "verified_pairs": len(verified),
        "planted_twins": n_twins,
        "recall": round(1.0 - len(missed) / max(n_twins, 1), 6),
        "strays": len(verified) - (n_twins - len(missed)),
        "groups_over_cap": star.get("groups_over_cap"),
        "max_group_size": star.get("max_group_size"),
        "wall_sec": round(wall, 2),
        "violations": len(missed),
    }


def run_substring_leg(spark, n_docs: int = 250_000,
                      carrier_every: int = 50) -> dict:
    """Substring-level dedup at corpus scale: a fixed 20-token
    boilerplate run is appended to every carrier_every-th document of
    a 250k corpus (~5k carriers), and the registered
    dedup_substring_spans must (a) finish on the ~14M-window
    inventory, and (b) report EXACTLY the analytic span on every
    carrier — [n_tokens, n_tokens + 20) with 20 - SPAN_K + 1 windows
    (boundary-straddling windows mix unique prefix tokens, so only
    the run's interior duplicates). Twin near-dup docs also emit
    spans (their whole shared text duplicates); those are counted,
    not pinned."""
    import shutil
    import tempfile

    from adcirctime2cogs_spark.operators.dedup import (
        SPAN_K,
        dedup_substring_spans,
    )

    # NOTE on the expected span: the run's interior windows duplicate
    # for every carrier, giving span [n_tokens, n_tokens + run_len).
    # A boundary-straddling window duplicates too whenever TWO
    # carriers share the same base-text suffix token(s) before the
    # run (1/vocab per pair — the birthday regime at 5k carriers), so
    # a span may legitimately start a few windows earlier. The pin is
    # therefore: every carrier has exactly one span that ENDS at the
    # run's end and starts at or before the run (within the 12-token
    # straddle region), with the window count consistent with it.
    n_tokens, run_len = 60, SPAN_K + 8
    run = " ".join(f"boiler{j}" for j in range(run_len))
    out = tempfile.mkdtemp(prefix="scale_substr_")
    try:
        synth_documents(spark, out, n_docs)
        docs = spark.read.parquet(f"{out}/documents.parquet")
        is_carrier = (
            (F.col("doc_id") % carrier_every == 3)
            & (F.col("doc_id") < n_docs)
        )
        new_text = F.when(
            is_carrier, F.concat(F.col("text"), F.lit(" " + run))
        ).otherwise(F.col("text"))
        docs.select(
            "doc_id", new_text.alias("text"), "lang", "source",
            F.length(new_text).cast("long").alias("n_chars"),
        ).write.mode("overwrite").parquet(f"{out}2/documents.parquet")
        n_carriers = docs.filter(is_carrier).count()
        t0 = time.time()
        spans = dedup_substring_spans(spark, f"{out}2")
        run_span = (
            (F.col("doc_id") % carrier_every == 3)
            & (F.col("doc_id") < n_docs)
            & (F.col("span_end") == n_tokens + run_len)
            & F.col("span_start").between(n_tokens - SPAN_K + 1, n_tokens)
            & (F.col("n_windows")
               == F.col("span_end") - F.col("span_start") - SPAN_K + 1)
        )
        agg = spans.agg(
            F.count("*").alias("total"),
            F.sum(run_span.cast("long")).alias("carrier_run_spans"),
            F.sum((F.col("span_start") == n_tokens).cast("long")
                  ).alias("exact_interior"),
        ).first()
        wall = time.time() - t0
        hit = int(agg.carrier_run_spans or 0)
        return {
            "leg": f"substring_{n_docs}",
            "n_docs": n_docs,
            "carriers": n_carriers,
            "carrier_run_spans": hit,
            "exact_interior_spans": int(agg.exact_interior or 0),
            "total_spans": int(agg.total),
            "wall_sec": round(wall, 2),
            "violations": int(hit != n_carriers),
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(f"{out}2", ignore_errors=True)


def run_semdedup_leg(spark, n_vecs: int) -> dict:
    """SemDeDup at corpus scale (round 9): the within-cell semantic
    dedup must (a) recover every planted twin pair inside its IVF
    cell, (b) keep exactly one member of each twin pair, and (c) owe
    its cost to the CLUSTER-BOUNDED candidate space — the leg records
    the enumerated within-cell pair count against the quadratic
    all-pairs bound (cell sizes ~CENT_MOD by construction, so
    candidates scale as n * cell_size, the shape that survives a
    100x corpus).

    Leg size note (honest bound, not a hidden cap): the registered
    operators' coarse quantizer is the DETERMINISTIC centroid rule
    (vec_id % CENT_MOD == 1) so every query stays DuckDB-oracleable —
    which makes nlist grow as n/67 and the ONE-TIME cell-index build
    cost O(n * nlist) scoring ops. At 1M vectors that's ~1.5e10
    higher-order-function cosines in a single build, hours on one
    node, so main() runs this leg at min(corpus_vecs, 100k) and SAYS
    so in the leg name. At production scale the coarse quantizer is
    a trained FIXED-k codebook (the vec_kmeans_lloyd operator is the
    trainer shape), making assignment O(n * k) and the build
    embarrassingly parallel; the property THIS leg proves — the
    within-cell candidate fraction and the keeper rule — is
    independent of how the cells were obtained."""
    import shutil
    import tempfile

    from adcirctime2cogs_spark.operators.dedup import (
        dedup_semantic_keepers,
        dedup_semantic_pairs,
    )
    from adcirctime2cogs_spark.operators.similarity import (
        N_QUERY_VECS,
        _ivf_cells_table,
    )
    from adcirctime2cogs_spark.tables import drop_layouts

    from adcirctime2cogs_spark.operators.dedup import (
        dedup_semantic_keepers_scale,
    )

    out = tempfile.mkdtemp(prefix="scale_semdedup_")
    try:
        synth_embeddings(spark, out, n_vecs, n_probes=N_QUERY_VECS)
        twins = {(q, n_vecs + q) for q in range(N_QUERY_VECS)}
        t0 = time.time()
        pairs = {
            (r.vec_a, r.vec_b)
            for r in dedup_semantic_pairs(spark, out).collect()
        }
        wall_pairs = time.time() - t0
        t0 = time.time()
        keepers = {
            r.vec_id for r in dedup_semantic_keepers(spark, out).collect()
        }
        wall_keepers = time.time() - t0
        # the BLAS assignment path (rows-only registered scale
        # variant) must agree on the keeper set at this scale too,
        # and its wall shows what the production path costs where
        # the oracle-able build is the boundary
        t0 = time.time()
        k_fast = {
            r.vec_id
            for r in dedup_semantic_keepers_scale(spark, out).collect()
        }
        wall_fast = time.time() - t0
        twin_hits = sum(1 for t in twins if t in pairs)
        both_kept = sum(
            1 for a, b in twins if a in keepers and b in keepers
        )
        cells = (
            _ivf_cells_table(spark, out)
            .groupBy("cell").count()
            .agg(
                F.sum(F.col("count") * (F.col("count") - 1) / 2)
                .alias("cand"),
                F.max("count").alias("max_cell"),
                F.count("*").alias("n_cells"),
            )
            .first()
        )
        n_total = n_vecs + N_QUERY_VECS
        all_pairs = n_total * (n_total - 1) / 2
        cand_frac = float(cells.cand) / all_pairs
        return {
            "leg": f"semdedup_{n_vecs}",
            "n_vecs": n_total,
            "planted_twins": len(twins),
            "twin_pairs_found": twin_hits,
            "twin_pairs_surviving_intact": both_kept,
            "pairs_total": len(pairs),
            "n_keepers": len(keepers),
            "n_cells": int(cells.n_cells),
            "max_cell": int(cells.max_cell),
            "within_cell_candidates": int(cells.cand),
            "candidate_fraction_of_all_pairs": round(cand_frac, 8),
            "wall_pairs_sec": round(wall_pairs, 2),
            "wall_keepers_sec": round(wall_keepers, 2),
            "wall_keepers_blas_sec": round(wall_fast, 2),
            "blas_keeper_set_equal": k_fast == keepers,
            "violations": (
                (0 if k_fast == keepers else 1) +
                (len(twins) - twin_hits) + both_kept
                + (1 if cand_frac > 0.01 else 0)
            ),
        }
    finally:
        drop_layouts(spark, out)
        shutil.rmtree(out, ignore_errors=True)


def run_semdedup_scale_leg(spark, n_vecs: int) -> dict:
    """The BLAS SemDeDup path (dedup_semantic_keepers_scale) at FULL
    corpus size — the production variant whose mapInPandas matmul
    assignment removes the O(n*nlist) interpreted-cosine build that
    caps run_semdedup_leg at 100k. Planted twins must not survive
    intact; wall is the whole keeper computation (assignment + the
    cluster-bounded within-cell verify) at ~15k data-derived cells."""
    import shutil
    import tempfile

    from adcirctime2cogs_spark.operators.dedup import (
        dedup_semantic_keepers_scale,
    )
    from adcirctime2cogs_spark.operators.similarity import N_QUERY_VECS

    out = tempfile.mkdtemp(prefix="scale_semdedup_blas_")
    try:
        synth_embeddings(spark, out, n_vecs, n_probes=N_QUERY_VECS)
        twins = [(q, n_vecs + q) for q in range(N_QUERY_VECS)]
        t0 = time.time()
        keepers = {
            r.vec_id
            for r in dedup_semantic_keepers_scale(spark, out).collect()
        }
        wall = time.time() - t0
        both_kept = sum(
            1 for a, b in twins if a in keepers and b in keepers
        )
        return {
            "leg": f"semdedup_blas_{n_vecs}",
            "n_vecs": n_vecs + N_QUERY_VECS,
            "planted_twins": len(twins),
            "twin_pairs_surviving_intact": both_kept,
            "n_keepers": len(keepers),
            "wall_sec": round(wall, 2),
            "violations": both_kept,
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)


def run_corpus_maxsim_leg(spark, n_vecs: int, n_bits: int = 16) -> dict:
    """Late-interaction (maxsim) rerank at corpus scale: the SAME
    two-stage plan the registered sim_maxsim_rerank runs, with the
    per-sub-vector index widened to n_bits=16 for the bigger corpus
    (the standard index-tuning knob; the fixture-scale default is
    SIGN_BITS=6). Green =
    (a) candidate volume is a sub-1% fraction of n_vecs per probe —
        the stage-2 interaction work is bounded by bucket occupancy,
        not corpus size,
    (b) every probe's planted twin (cosine ~ 0.9999, so near-max
        maxsim) survives stage 1 and lands in the top-5.
    """
    import shutil
    import tempfile

    from adcirctime2cogs_spark.operators.similarity import (
        EMB_DIM,
        N_QUERY_VECS,
        _subvector_candidates,
        maxsim_rerank_plan,
    )
    from adcirctime2cogs_spark.tables import load_table

    out = tempfile.mkdtemp(prefix="scale_maxsim_")
    try:
        synth_embeddings(spark, out, n_vecs, dim=EMB_DIM,
                         n_probes=N_QUERY_VECS)
        emb = load_table(spark, out, "embeddings")
        t0 = time.time()
        n_cand = (
            _subvector_candidates(emb, n_bits)
            .groupBy("q_id").count().collect()
        )
        t_cand = time.time() - t0
        max_frac = max(r["count"] for r in n_cand) / n_vecs
        t0 = time.time()
        top = maxsim_rerank_plan(spark, out, n_bits).collect()
        t_rerank = time.time() - t0
        found = {(r.q_id, r.c_id) for r in top}
        hits = sum(
            1 for q in range(N_QUERY_VECS) if (q, n_vecs + q) in found
        )
        return {
            "leg": f"corpus_maxsim_{n_vecs}",
            "n_vecs": n_vecs + N_QUERY_VECS,
            "n_bits": n_bits,
            "probes": N_QUERY_VECS,
            "max_cand_per_probe": max(r["count"] for r in n_cand),
            "max_cand_fraction": round(max_frac, 5),
            "twin_hits": hits,
            "wall_cand_sec": round(t_cand, 2),
            "wall_rerank_sec": round(t_rerank, 2),
            "violations": (0 if max_frac < 0.01 else 1)
            + (0 if hits == N_QUERY_VECS else 1),
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)


def synth_events(spark, out_dir: str, n_events: int, n_users: int) -> None:
    """Fixture-shaped events.parquet: n_events rows scattered uniformly
    over 30 days (xxhash64 column math — microsecond-random so an
    exact-1800.000000s gap, where the two sessionization strategies'
    boundary conventions could differ, has measure zero)."""
    base_us = 1_704_067_200 * 1_000_000  # 2024-01-01 UTC
    ev = spark.range(n_events).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            F.lit(base_us)
            + F.pmod(F.xxhash64("id"), F.lit(30 * 86400)) * 1_000_000
            + F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1_000_000))
        ).alias("ts"),
        F.pmod(F.col("id"), F.lit(n_users)).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(3)) + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(F.xxhash64("id", F.lit(5)), F.lit(1000)) / 100.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    ev.write.mode("overwrite").parquet(f"{out_dir}/events.parquet")


def run_corpus_events_leg(spark, n_events: int, n_users: int = 100_000) -> dict:
    """Sessionization cross-validation at event-stream scale: the two
    registered strategy twins — F.session_window's merging-window
    state operator and the portable lag/cumsum idiom — must produce
    IDENTICAL sessions (same user, same start, same event count) on
    the same 10M-row synthetic stream. Disagreement on any session is
    a violation; the wall times show both shapes hold up when the
    per-user history is long."""
    import shutil
    import tempfile

    from adcirctime2cogs_spark.operators.eventwindows import (
        events_session_window,
        events_sessionize_gap,
    )

    out = tempfile.mkdtemp(prefix="scale_events_")
    try:
        synth_events(spark, out, n_events, n_users)
        t0 = time.time()
        sw = events_session_window(spark, out).select(
            "user_id", "sess_start", F.col("n").alias("n_sw")
        )
        n_sw = sw.count()
        t1 = time.time()
        gap = events_sessionize_gap(spark, out).select(
            "user_id", "sess_start", F.col("n_events").alias("n_gap")
        )
        n_gap = gap.count()
        t2 = time.time()
        mismatches = (
            sw.join(gap, ["user_id", "sess_start"], "full_outer")
            .filter(
                F.col("n_sw").isNull()
                | F.col("n_gap").isNull()
                | (F.col("n_sw") != F.col("n_gap"))
            )
            .count()
        )
        return {
            "leg": f"corpus_events_{n_events}",
            "n_events": n_events,
            "n_users": n_users,
            "sessions_session_window": n_sw,
            "sessions_gap_idiom": n_gap,
            "mismatched_sessions": mismatches,
            "wall_session_window_sec": round(t1 - t0, 2),
            "wall_gap_idiom_sec": round(t2 - t1, 2),
            "violations": 0 if mismatches == 0 else 1,
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)


def run_paragraph_dedup_leg(spark, n_docs: int = 250_000) -> dict:
    """First-keeper paragraph dedup at corpus scale: on the synthetic
    corpus every BASE doc's tiles are globally unique (xxhash64 token
    mixing makes an 8-token tile collision measure-zero), and every
    TWIN doc duplicates its base's tiles except the single tile
    holding the mutated token. Exact expectations, checked per doc:
    base docs keep ALL their tiles, twin docs keep EXACTLY ONE (the
    mutated tile — their other tiles lose the first-occurrence race to
    the lower-doc_id base). Any deviation is a violation. Wall time
    shows the one-groupBy-per-tile shape holding at 250k docs."""
    import shutil
    import tempfile

    from adcirctime2cogs_spark.operators.dedup import dedup_paragraph_first

    out = tempfile.mkdtemp(prefix="scale_para_")
    try:
        n_twins = synth_documents(spark, out, n_docs)
        t0 = time.time()
        res = dedup_paragraph_first(spark, out)
        bad_base = res.filter(
            (F.col("doc_id") < n_docs) & (F.col("n_kept") != F.col("n_tiles"))
        ).count()
        bad_twin = res.filter(
            (F.col("doc_id") >= n_docs) & (F.col("n_kept") != 1)
        ).count()
        wall = time.time() - t0
        return {
            "leg": f"paragraph_dedup_{n_docs}",
            "n_docs": n_docs,
            "n_twins": n_twins,
            "base_docs_losing_tiles": bad_base,
            "twins_not_reduced_to_one_tile": bad_twin,
            "wall_sec": round(wall, 2),
            "violations": (1 if bad_base else 0) + (1 if bad_twin else 0),
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)


def run_ppl_ewma_leg(spark, n_docs: int = 250_000,
                     n_events: int = 10_000_000,
                     n_users: int = 100_000) -> dict:
    """The other two r11 registrations at corpus scale. (a) CCNet
    perplexity terciles on a SINGLE-language 250k-doc corpus — the
    documented worst case, where one language owns the whole ntile
    window partition; checks tercile balance (sizes within 1) and
    monotone head<=middle<=tail mean perplexity. (b) per-user EWMA
    over 10M events / 100k users in one window pass; checks row
    preservation and the convex-combination bound (every smoothed
    value inside its trailing window's [min, max])."""
    import shutil
    import tempfile

    from pyspark.sql import Window as W

    from adcirctime2cogs_spark.operators.eventwindows import (
        events_ewma_smooth,
    )
    from adcirctime2cogs_spark.operators.textstats import text_ppl_buckets

    out = tempfile.mkdtemp(prefix="scale_pplewma_")
    violations = 0
    try:
        synth_documents(spark, out, n_docs)
        t0 = time.time()
        rows = text_ppl_buckets(spark, out).collect()
        wall_ppl = time.time() - t0
        sizes = {r["bucket"]: r["n_docs"] for r in rows}
        ppls = {r["bucket"]: r["avg_ppl"] for r in rows}
        balanced = (
            len(rows) == 3 and max(sizes.values()) - min(sizes.values()) <= 1
        )
        monotone = ppls.get("head", 0) <= ppls.get("middle", 0) <= ppls.get(
            "tail", 0
        )
        if not (balanced and monotone):
            violations += 1

        synth_events(spark, out, n_events, n_users)
        ew = events_ewma_smooth(spark, out)
        n_rows = ew.count()  # row preservation (window op pruned here)
        w = (
            W.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(-7, 0)
        )
        # the bounds pass FILTERS on ewma, so it forces the full
        # window computation — time THIS as the operator wall
        t1 = time.time()
        bounds_bad = (
            ew.withColumn("lo", F.min("value").over(w))
            .withColumn("hi", F.max("value").over(w))
            .filter(
                (F.col("ewma") < F.col("lo") - 1e-4)
                | (F.col("ewma") > F.col("hi") + 1e-4)
            )
            .count()
        )
        wall_ewma = time.time() - t1
        if n_rows != n_events or bounds_bad:
            violations += 1
        return {
            "leg": f"ppl_ewma_{n_docs}_{n_events}",
            "n_docs": n_docs,
            "tercile_sizes": sizes,
            "tercile_avg_ppl": ppls,
            "wall_ppl_sec": round(wall_ppl, 2),
            "n_events": n_events,
            "ewma_rows": n_rows,
            "ewma_bound_violations": bounds_bad,
            "wall_ewma_sec": round(wall_ewma, 2),
            "violations": violations,
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)



def run_drift_suite_leg(spark, n_events: int = 10_000_000,
                        n_users: int = 100_000,
                        n_docs: int = 250_000) -> dict:
    """The r12 registrations at corpus scale. (a) Drift detectors on a
    10M-event stream with a PLANTED +4 mean shift on one type's second
    half: CUSUM must flag the shifted type only after the shift
    boundary; the KS distance must separate shifted-vs-unshifted pairs
    from unshifted-vs-unshifted pairs by an order of magnitude; Welch's
    |t| must be enormous for shifted pairs and modest otherwise. (b)
    The Gopher rule filter and character entropy on a 250k-doc corpus:
    keep fraction strictly inside (0, 1), entropy within [0, ln(96)]
    (the synthetic charset bound), both in one pass each."""
    import math
    import shutil
    import tempfile

    from adcirctime2cogs_spark.operators.eventwindows import (
        events_cusum_changepoint,
        events_ks_drift,
        events_psi_drift,
        events_welch_ttest,
    )
    from adcirctime2cogs_spark.operators.textstats import (
        text_char_entropy,
        text_gopher_rules,
    )

    out = tempfile.mkdtemp(prefix="scale_drift_")
    violations = 0
    try:
        base_us = 1_704_067_200 * 1_000_000  # 2024-01-01 UTC
        shift_s = 15 * 86400  # day 15 of the 30-day span
        day_s = F.pmod(F.xxhash64("id"), F.lit(30 * 86400))
        ev = spark.range(n_events).select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(
                F.lit(base_us) + day_s * 1_000_000
                + F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1_000_000))
            ).alias("ts"),
            F.pmod(F.col("id"), F.lit(n_users)).alias("user_id"),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
                (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(3)) + 1).cast("int"),
            ).alias("event_type"),
            # uniform [0,10) noise (sd ~2.89) + a +4 (~1.4 sigma) level
            # shift on 'click' from day 15 on
            (
                F.pmod(F.xxhash64("id", F.lit(5)), F.lit(1000)) / 100.0
                + F.when(
                    (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(3)) == 1)
                    & (day_s >= F.lit(shift_s)),
                    F.lit(4.0),
                ).otherwise(F.lit(0.0))
            ).alias("value"),
            F.lit("{}").alias("props"),
        )
        ev.write.mode("overwrite").parquet(f"{out}/events.parquet")

        t0 = time.time()
        flags = (
            events_cusum_changepoint(spark, out)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.min("ts").alias("first_flag"),
            )
            .collect()
        )
        wall_cusum = time.time() - t0
        by_type = {r["event_type"]: r for r in flags}
        shift_ts = (base_us / 1e6) + shift_s
        click = by_type.get("click")
        # the planted shift must be detected, and never before day 15
        if click is None or click["n"] == 0:
            violations += 1
        elif click["first_flag"].timestamp() < shift_ts:
            violations += 1

        t1 = time.time()
        ks = {
            tuple(sorted((r["type_a"], r["type_b"]))): r["d_stat"]
            for r in events_ks_drift(spark, out).collect()
        }
        wall_ks = time.time() - t1
        d_shifted = ks[("click", "purchase")]
        d_null = ks[("purchase", "view")]
        # half the click mass moved +4 on a width-10 uniform -> the
        # ECDF gap is ~0.5 * 0.4 = 0.2; null pairs are identical draws
        if not (d_shifted > 0.1 and d_null < 0.02):
            violations += 1

        t2 = time.time()
        tt = {
            tuple(sorted((r["type_a"], r["type_b"]))): abs(r["t_stat"])
            for r in events_welch_ttest(spark, out).collect()
        }
        wall_tt = time.time() - t2
        t_shifted = tt[("click", "purchase")]
        t_null = tt[("purchase", "view")]
        # +2 mean shift over sem ~ sqrt(2) * 2.9 / sqrt(3.3M) -> t ~ 900
        if not (t_shifted > 100 and t_null < 10):
            violations += 1

        t2b = time.time()
        psi = {
            tuple(sorted((r["type_a"], r["type_b"]))): r["psi"]
            for r in events_psi_drift(spark, out).collect()
        }
        wall_psi = time.time() - t2b
        psi_shifted = psi[("click", "purchase")]
        psi_null = psi[("purchase", "view")]
        # the ML-monitoring alarm line is 0.2; the planted shift moves
        # ~40% of click mass into new bins, null pairs are iid draws
        if not (psi_shifted > 0.2 and psi_null < 0.01):
            violations += 1

        # the synthetic vocabulary ("w####") contains no English
        # stopwords, so the raw corpus fails the Gopher stopword rule
        # uniformly; prepend the stop set to every EVEN doc so the
        # keep verdict discriminates and its fraction is predictable
        n_twins = synth_documents(spark, out, n_docs)
        n_total = n_docs + n_twins
        gdir = f"{out}/gopher"
        (
            spark.read.parquet(f"{out}/documents.parquet")
            .select(
                "doc_id",
                F.when(
                    F.col("doc_id") % 2 == 0,
                    F.concat(F.lit("the and of a "), F.col("text")),
                ).otherwise(F.col("text")).alias("text"),
                "lang",
                "source",
            )
            .withColumn("n_chars", F.length("text").cast("long"))
            .write.mode("overwrite")
            .parquet(f"{gdir}/documents.parquet")
        )
        t3 = time.time()
        g = text_gopher_rules(spark, gdir).agg(
            F.sum("keep").alias("k"), F.count("*").alias("n")
        ).first()
        wall_gopher = time.time() - t3
        # every even doc (and only those) carries the stop set
        if not (g["n"] == n_total and g["k"] == (n_total + 1) // 2):
            violations += 1

        t4 = time.time()
        e = text_char_entropy(spark, gdir).agg(
            F.min("entropy").alias("lo"),
            F.max("entropy").alias("hi"),
            F.count("*").alias("n"),
        ).first()
        wall_entropy = time.time() - t4
        if not (e["n"] == n_total
                and 0.0 <= e["lo"] <= e["hi"] <= math.log(96)):
            violations += 1

        return {
            "leg": f"drift_suite_{n_events}_{n_docs}",
            "n_events": n_events,
            "cusum_flags_click": 0 if click is None else click["n"],
            "wall_cusum_sec": round(wall_cusum, 2),
            "ks_d_shifted": d_shifted,
            "ks_d_null": d_null,
            "wall_ks_sec": round(wall_ks, 2),
            "welch_t_shifted": t_shifted,
            "welch_t_null": t_null,
            "wall_welch_sec": round(wall_tt, 2),
            "psi_shifted": psi_shifted,
            "psi_null": psi_null,
            "wall_psi_sec": round(wall_psi, 2),
            "gopher_keep_frac": round(g["k"] / g["n"], 4),
            "wall_gopher_sec": round(wall_gopher, 2),
            "entropy_range": [e["lo"], e["hi"]],
            "wall_entropy_sec": round(wall_entropy, 2),
            "violations": violations,
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)



def run_distwindow_leg(spark, n_rows: int = 10_000_000) -> dict:
    """The r12 distributed parallel scan (functions/distwindow) at
    stream scale: a 10M-row exact prefix sum and global rank computed
    (a) by the two-phase bucket construction and (b) by the naive
    single-partition window, asserting BIT-equality of the full result
    sets and recording both wall times — the measured cost of the
    scale-killing plan the engine no longer uses."""
    from pyspark.sql import Window as W

    from adcirctime2cogs_spark.functions.distwindow import (
        global_rank,
        prefix_sum,
    )

    df = spark.range(n_rows).select(
        F.col("id"),
        F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("k"),
        F.pmod(F.xxhash64("id", F.lit(3)), F.lit(500)).alias("v"),
    )
    violations = 0

    # aggregate over the RESULT column — a bare count() lets column
    # pruning delete the window node and times an empty plan
    t0 = time.time()
    dist = prefix_sum(df, F.col("k"), ["k", "id"], F.col("v"), "cum")
    agg_d = dist.agg(F.sum("cum").alias("s"),
                     F.count("*").alias("n")).first()
    n_dist, sum_dist = agg_d["n"], agg_d["s"]
    wall_dist = time.time() - t0

    w = W.orderBy("k", "id").rowsBetween(W.unboundedPreceding, W.currentRow)
    t1 = time.time()
    naive = df.withColumn("cum", F.sum("v").over(w))
    agg_n = naive.agg(F.sum("cum").alias("s"),
                      F.count("*").alias("n")).first()
    n_naive, sum_naive = agg_n["n"], agg_n["s"]
    wall_naive = time.time() - t1
    if sum_dist != sum_naive:
        violations += 1

    t2 = time.time()
    diff = dist.exceptAll(naive).count() + naive.exceptAll(dist).count()
    wall_diff = time.time() - t2
    if diff != 0 or n_dist != n_rows or n_naive != n_rows:
        violations += 1

    t3 = time.time()
    ranked = global_rank(df, F.col("k"), ["k", "id"], "rn")
    # spot invariants instead of a second naive sort: the rank set is
    # exactly 1..n and ordering is consistent with (k, id)
    stats = ranked.agg(
        F.min("rn").alias("lo"), F.max("rn").alias("hi"),
        F.count("*").alias("n"),
        F.count_distinct("rn").alias("nd"),
    ).first()
    wall_rank = time.time() - t3
    if not (stats["lo"] == 1 and stats["hi"] == n_rows
            and stats["n"] == n_rows and stats["nd"] == n_rows):
        violations += 1

    return {
        "leg": f"distwindow_{n_rows}",
        "n_rows": n_rows,
        "wall_prefix_dist_sec": round(wall_dist, 2),
        "wall_prefix_naive_sec": round(wall_naive, 2),
        "full_diff_rows": diff,
        "wall_diff_sec": round(wall_diff, 2),
        "wall_rank_dist_sec": round(wall_rank, 2),
        "violations": violations,
    }


def run_tpch_scale_leg(spark, factor: int = 10,
                       base: str = "/root/testdata/sf0.1") -> dict:
    """Relational path at factor× the bench SF: replicate the sf0.1
    fact tables with disjoint key ranges (6M lineitem rows at 10×),
    run the REGISTERED q1 / TPC-H Q18 unchanged against the synthetic
    sf_dir, and check the exact replication invariants — q1's integral
    sums and counts must be EXACTLY factor× the base run (quantities
    are whole numbers, so the sums are fp-exact), averages identical
    to 4dp, and Q18's qualifying-order count exactly factor× (each key
    range qualifies independently and identically)."""
    import shutil
    import tempfile
    from functools import reduce

    from adcirctime2cogs_spark.operators.relational import q1_pricing_summary
    from adcirctime2cogs_spark.operators.relational2 import (
        tpch_q18_large_volume,
    )
    from adcirctime2cogs_spark.tables import load_table

    KEY_OFF = 1_000_000  # > max orderkey at sf0.1 (149,999)
    out = tempfile.mkdtemp(prefix="scale_tpch_")
    try:
        li = load_table(spark, base, "lineitem")
        orders = load_table(spark, base, "orders")
        reduce(
            lambda a, b: a.unionAll(b),
            [
                li.withColumn(
                    "l_orderkey", F.col("l_orderkey") + i * KEY_OFF
                )
                for i in range(factor)
            ],
        ).write.parquet(f"{out}/lineitem.parquet")
        reduce(
            lambda a, b: a.unionAll(b),
            [
                orders.withColumn(
                    "o_orderkey", F.col("o_orderkey") + i * KEY_OFF
                )
                for i in range(factor)
            ],
        ).write.parquet(f"{out}/orders.parquet")
        for t in ("region", "nation", "customer", "supplier", "part",
                  "events", "documents", "embeddings"):
            os.symlink(f"{base}/{t}.parquet", f"{out}/{t}.parquet")

        t0 = time.time()
        big = {(r.l_returnflag, r.l_linestatus): r
               for r in q1_pricing_summary(spark, out).collect()}
        t_q1 = time.time() - t0
        small = {(r.l_returnflag, r.l_linestatus): r
                 for r in q1_pricing_summary(spark, base).collect()}
        violations = 0
        for k, s in small.items():
            b = big[k]
            if (b.count_order != factor * s.count_order
                    or b.sum_qty != factor * s.sum_qty
                    or abs(b.avg_qty - s.avg_qty) > 1e-9):
                violations += 1
        t0 = time.time()
        n18_big = tpch_q18_large_volume(spark, out).count()
        t_q18 = time.time() - t0
        n18_small = tpch_q18_large_volume(spark, base).count()
        if n18_big != factor * n18_small:
            violations += 1
        return {
            "leg": f"tpch_scale_{factor}x",
            "n_lineitem": 600_000 * factor,
            "q1_groups": len(big),
            "q18_rows": n18_big,
            "wall_q1_sec": round(t_q1, 2),
            "wall_q18_sec": round(t_q18, 2),
            "violations": violations,
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)


def run_streaming_session_leg(spark, n_events: int = 1_000_000,
                              n_users: int = 10_000) -> dict:
    """The stateful streaming path at scale: 1M synthetic events replay
    through the REGISTERED stream_session_flush (real Structured
    Streaming — time-ordered micro-batches into the
    applyInPandasWithState TTL sessionizer, watermark-advancing
    sentinel flush) and the emitted sessions are full-outer compared
    against the batch gap-sessionizer on the same data. Any session
    that exists in only one engine, or disagrees on count/start/end,
    is a violation — incremental must be invisible in the result at
    100x the fixture's event volume too."""
    import shutil
    import tempfile

    from adcirctime2cogs_spark.operators.eventwindows import (
        events_sessionize_gap,
    )
    from adcirctime2cogs_spark.streaming.parity import stream_session_flush

    out = tempfile.mkdtemp(prefix="scale_stream_sess_")
    try:
        synth_events(spark, out, n_events, n_users)
        t0 = time.time()
        stream = stream_session_flush(spark, out)
        n_stream = stream.count()
        wall_stream = time.time() - t0
        t0 = time.time()
        batch = events_sessionize_gap(spark, out).select(
            "user_id", "session_no",
            F.col("n_events").alias("n_b"),
            F.col("sess_start").alias("start_b"),
            F.col("sess_end").alias("end_b"),
        )
        n_batch = batch.count()
        wall_batch = time.time() - t0
        mismatches = (
            stream.join(batch, ["user_id", "session_no"], "full_outer")
            .filter(
                F.col("n_events").isNull()
                | F.col("n_b").isNull()
                | (F.col("n_events") != F.col("n_b"))
                | (F.col("sess_start") != F.col("start_b"))
                | (F.col("sess_end") != F.col("end_b"))
            )
            .count()
        )
        return {
            "leg": f"stream_sessions_{n_events}",
            "n_events": n_events,
            "n_users": n_users,
            "sessions_stream": n_stream,
            "sessions_batch": n_batch,
            "mismatched_sessions": mismatches,
            "wall_stream_sec": round(wall_stream, 2),
            "wall_batch_sec": round(wall_batch, 2),
            "violations": 0 if mismatches == 0 else 1,
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)


def run_skew_join_leg(spark, n_rows: int = 20_000_000,
                      n_keys: int = 100_000) -> dict:
    """Deliberately key-skewed join under AQE skew-split: a 20M-row
    fact table where ONE key owns 50% of all rows joins a 100k-row dim
    through a forced sort-merge join with the skew thresholds lowered
    so OptimizeSkewedJoin must split the hot partition. Invariants are
    exact and cross-strategy: the skew-split SMJ must produce the SAME
    row count and the SAME integer checksum as the broadcast-hash twin
    of the identical logical plan (two physical strategies, one
    answer), and the executed plan must actually contain a skew=true
    split — a leg that passes because AQE silently didn't engage would
    be vacuous."""
    hot = F.when(F.col("id") % 2 == 0, F.lit(0))
    fact = spark.range(n_rows).select(
        hot.otherwise(
            F.pmod(F.xxhash64("id"), F.lit(n_keys - 1)) + 1
        ).alias("k"),
        F.pmod(F.col("id"), F.lit(97)).alias("v"),
    )
    dim = spark.range(n_keys).select(
        F.col("id").alias("k"), (F.col("id") % 7 + 1).alias("mult")
    )
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m"
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        smj = fact.join(dim.hint("merge"), "k").agg(
            F.count("*").alias("n"), F.sum(F.col("v") * F.col("mult")).alias("s")
        )
        t0 = time.time()
        # collect(), not first(): first() executes a separate limited
        # plan, leaving this DataFrame's queryExecution un-finalized so
        # the skew=true marker would never appear in its plan string
        smj_row = smj.collect()[0]
        wall_smj = time.time() - t0
        plan = smj._jdf.queryExecution().executedPlan().toString()
        skew_applied = "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
    t0 = time.time()
    bc_row = fact.join(F.broadcast(dim), "k").agg(
        F.count("*").alias("n"), F.sum(F.col("v") * F.col("mult")).alias("s")
    ).collect()[0]
    wall_bc = time.time() - t0
    violations = 0
    if smj_row.n != n_rows or smj_row.n != bc_row.n:
        violations += 1
    if smj_row.s != bc_row.s:
        violations += 1
    if not skew_applied:
        violations += 1
    return {
        "leg": f"skew_join_{n_rows}",
        "n_rows": n_rows,
        "hot_key_share": 0.5,
        "out_rows": smj_row.n,
        "checksum": smj_row.s,
        "skew_split_applied": skew_applied,
        "wall_skew_smj_sec": round(wall_smj, 2),
        "wall_broadcast_sec": round(wall_bc, 2),
        "violations": violations,
    }


def run_bloom_filter_leg(spark, n_rows: int = 20_000_000,
                         n_keys: int = 1_000_000) -> dict:
    """Runtime bloom-filter join: a 20M-row fact shuffles against a
    1M-key dim of which a selective filter keeps 1% — the shape where
    Spark's InjectRuntimeFilter builds a bloom filter from the dim
    side and plants a `might_contain` pre-filter on the FACT SCAN, so
    ~99% of fact rows drop before the shuffle instead of after it.
    The leg simulates the 100 TB regime where neither side broadcasts
    (autoBroadcastJoinThreshold lowered for its duration; the rule
    skips broadcastable dims because a broadcast join needs no
    shuffle to protect). Invariants: the bloom plan must actually
    contain might_contain + bloom_filter_agg (a leg that passes
    because the rule silently didn't engage would be vacuous), and it
    must produce the SAME row count and integer checksum as the
    bloom-disabled twin of the identical logical plan. Walls are
    informational only and the bloom run is EXPECTED to be slower
    here: on local[32] a shuffle is a memory copy, so the bloom build
    scan dominates; the 99% pre-shuffle row reduction pays for itself
    when the shuffle crosses a real network."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="bloomleg_")
    try:
        spark.range(n_rows).select(
            F.pmod(F.xxhash64("id"), F.lit(n_keys)).alias("k"),
            F.pmod(F.col("id"), F.lit(97)).alias("v"),
        ).write.mode("overwrite").parquet(f"{tmp}/fact")
        spark.range(n_keys).select(
            F.col("id").alias("k"),
            (F.col("id") % 7 + 1).alias("mult"),
            (F.col("id") % 100).alias("segment"),
        ).write.mode("overwrite").parquet(f"{tmp}/dim")
        fact = spark.read.parquet(f"{tmp}/fact")
        dim = spark.read.parquet(f"{tmp}/dim").filter(F.col("segment") == 0)
        q = fact.join(dim, "k").agg(
            F.count("*").alias("n"),
            F.sum(F.col("v") * F.col("mult")).alias("s"),
        )
        conf = spark.conf
        keys = (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
        saved = {k: conf.get(k, None) for k in keys}
        try:
            conf.set(keys[0], "true")
            conf.set(keys[1], "1MB")
            conf.set(keys[2], "100MB")
            conf.set(keys[3], "1MB")
            t0 = time.time()
            bloom_row = q.collect()[0]
            wall_bloom = time.time() - t0
            plan = q._jdf.queryExecution().executedPlan().toString().lower()
            injected = "might_contain" in plan and "bloom_filter_agg" in plan
            conf.set(keys[0], "false")
            # a fresh DataFrame: the first one's queryExecution is
            # already finalized with the bloom plan
            q2 = fact.join(dim, "k").agg(
                F.count("*").alias("n"),
                F.sum(F.col("v") * F.col("mult")).alias("s"),
            )
            t0 = time.time()
            plain_row = q2.collect()[0]
            wall_plain = time.time() - t0
        finally:
            for k, v in saved.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)
        violations = 0
        if not injected:
            violations += 1
        if bloom_row.n != plain_row.n or bloom_row.s != plain_row.s:
            violations += 1
        return {
            "leg": f"bloom_filter_join_{n_rows}",
            "n_rows": n_rows,
            "dim_keys_kept": n_keys // 100,
            "out_rows": bloom_row.n,
            "checksum": bloom_row.s,
            "bloom_injected": injected,
            "wall_bloom_sec": round(wall_bloom, 2),
            "wall_no_bloom_sec": round(wall_plain, 2),
            "violations": violations,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _ui_spill_bytes(spark) -> tuple[int, int]:
    """(memoryBytesSpilled, diskBytesSpilled) summed over all stages,
    via the Spark UI REST API (the child session enables the UI)."""
    import json as j
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    apps = j.load(urllib.request.urlopen(f"{base}/api/v1/applications"))
    app_id = apps[0]["id"]
    stages = j.load(
        urllib.request.urlopen(
            f"{base}/api/v1/applications/{app_id}/stages?status=complete"
        )
    )
    return (
        sum(s.get("memoryBytesSpilled", 0) for s in stages),
        sum(s.get("diskBytesSpilled", 0) for s in stages),
    )


def run_spill_leg(
    n: int = 1000, grid_n: int = 501, n_ts: int = 50, driver_mem: str = "4g"
) -> dict:
    """Spill-pressure leg (VERDICT r05 #7): rerun the 50-ts SHUFFLE
    regrid (50M-row value table, node_id shuffle join — above the
    broadcast cutoff) in a FRESH JVM deliberately memory-starved
    (driver_mem — default 4g — total for 16 local executor threads,
    spark.memory.fraction squeezed to 0.3; tighter settings OOM on
    task MINIMUM allocations before any operator can spill), and
    prove the plan completes CORRECTLY via spill-to-disk — the
    property the 100 TB cluster story depends on: execution memory
    pressure must degrade to disk, never to a wrong answer or a crash.

    Memory has to be constrained at JVM launch, so the leg re-executes
    this script in a subprocess (--spill-child) and reads back the
    child's JSON line, which includes the spill byte counts observed
    through the UI REST API."""
    import subprocess

    # 16 threads, not 32: the squeeze must land on the DATA (per-task
    # execution memory small vs its partition -> sort/agg spill), not
    # on task MINIMUM page allocations (32 starving tasks OOM outright
    # before any operator gets far enough to spill)
    env = {
        **os.environ,
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        "SPARK_GRAFT_CPUS": "16",
    }
    cmd = [
        sys.executable, os.path.abspath(__file__), "--spill-child",
        "--n", str(n), "--grid-n", str(grid_n), "--n-ts", str(n_ts),
    ]
    proc = subprocess.run(
        cmd, env=env, capture_output=True, text=True, timeout=3600
    )
    json_lines = [
        ln for ln in proc.stdout.splitlines() if ln.startswith("{")
    ]
    if proc.returncode != 0 or not json_lines:
        return {
            "leg": "spill_shuffle",
            "violations": 1,
            "error": (proc.stderr or proc.stdout)[-800:],
        }
    return json.loads(json_lines[-1])


def _spill_child(n: int, grid_n: int, n_ts: int) -> int:
    from adcirctime2cogs_spark.session import get_spark

    spark = get_spark(
        app_name="spill_check",
        extra_conf={
            "spark.ui.enabled": "true",       # REST API for spill metrics
            "spark.ui.port": "4090",
            "spark.memory.fraction": "0.3",   # starve execution memory
        },
    )
    res = run_leg(spark, "spill_shuffle", n, grid_n, n_ts)
    mem_spill, disk_spill = _ui_spill_bytes(spark)
    res["driver_mem"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "?")
    res["memory_spilled_mb"] = round(mem_spill / 1e6, 1)
    res["disk_spilled_mb"] = round(disk_spill / 1e6, 1)
    print(json.dumps(res))
    return 1 if res["violations"] else 0


def run_compaction_leg(
    spark, n_files: int = 2000, n_rows: int = 4_000_000
) -> dict:
    """Small-file pathology -> compaction payoff, measured: write a
    fact table as n_files tiny parquet files (the shape per-micro-batch
    streaming sinks accrete), time a scan-heavy aggregate, compact with
    sinks/compact.py (sorted on the range-predicate key), re-time.
    Violations: any checksum drift across the rewrite, or a post-
    compaction scan that is SLOWER — compaction must pay for itself
    on the very next scan."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from adcirctime2cogs_spark.sinks.compact import compact_parquet

    tmp = tempfile.mkdtemp(prefix="compact_leg_")
    tbl = os.path.join(tmp, "fact")
    try:
        (
            spark.range(n_rows)
            .select(
                F.col("id").alias("k"),
                (F.col("id") % 1000).alias("grp"),
                (F.col("id") * 7 % 10_000).cast("double").alias("v"),
            )
            .repartition(n_files)
            .write.parquet(tbl)
        )

        def scan_agg():
            t0 = time.time()
            row = (
                spark.read.parquet(tbl)
                .filter(F.col("k") < n_rows // 10)  # range predicate
                .groupBy("grp")
                .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
                .agg(
                    F.sum("s").alias("cs"),
                    F.sum("n").alias("cn"),
                ).first()
            )
            return time.time() - t0, (float(row.cs), int(row.cn))

        spark.catalog.clearCache()
        t_before, sum_before = scan_agg()
        stats = compact_parquet(
            spark, tbl, target_file_bytes=64 * 1024 * 1024, sort_cols=("k",)
        )
        spark.catalog.clearCache()
        t_after, sum_after = scan_agg()
        # violation gates on correctness (checksum) and structure
        # (file count actually dropped) only — single-shot timing
        # swings +/-30% with ambient load on this host (BASELINE.md),
        # so t_after > t_before is reported informationally, not failed
        violations = int(sum_before != sum_after) + int(
            stats.files_after >= stats.files_before
        )
        return {
            "leg": f"compaction_{n_files}f",
            "files_before": stats.files_before,
            "files_after": stats.files_after,
            "rows": stats.rows,
            "scan_before_sec": round(t_before, 2),
            "scan_after_sec": round(t_after, 2),
            "speedup": round(t_before / max(t_after, 1e-9), 2),
            "violations": violations,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--quick", action="store_true")
    ap.add_argument("--corpus", action="store_true",
                    help="also run the LSH-dedup and ANN corpus legs")
    ap.add_argument("--corpus-docs", type=int, default=250_000)
    ap.add_argument("--corpus-vecs", type=int, default=1_000_000)
    ap.add_argument("--corpus-events", type=int, default=10_000_000)
    ap.add_argument("--tpch-factor", type=int, default=30)
    ap.add_argument("--hsofs", action="store_true",
                    help="run the reference's production geometry "
                         "(1.82M nodes, 8400^2 raster, 2 ts)")
    ap.add_argument("--production", action="store_true",
                    help="run the reference's ACTUAL production job "
                         "end-to-end: real fort.63.nc -> ingest -> "
                         "8838x8000 raster -> real COG bytes -> zip")
    ap.add_argument("--spill", action="store_true",
                    help="run the constrained-memory shuffle-regrid leg "
                         "in a 4g/16-thread subprocess JVM and record "
                         "spill bytes")
    ap.add_argument("--compaction", action="store_true",
                    help="run the small-file -> compaction scan-payoff leg")
    ap.add_argument("--spill-child", action="store_true",
                    help=argparse.SUPPRESS)
    ap.add_argument("--n", type=int, default=1000)
    ap.add_argument("--grid-n", type=int, default=501)
    ap.add_argument("--n-ts", type=int, default=50)
    args = ap.parse_args()

    if args.spill_child:
        return _spill_child(args.n, args.grid_n, args.n_ts)

    if args.spill:
        res = run_spill_leg(n=args.n, grid_n=args.grid_n, n_ts=args.n_ts)
        print(json.dumps(res))
        return 1 if res["violations"] else 0

    if args.compaction:
        from adcirctime2cogs_spark.session import get_spark as _gs

        res = run_compaction_leg(_gs(app_name="compaction_leg"))
        print(json.dumps(res))
        return 1 if res["violations"] else 0

    from adcirctime2cogs_spark.session import get_spark

    spark = get_spark(app_name="scale_check")
    legs = (
        [("quick", 300, 301, 5)]
        if args.quick
        else [("broadcast_1M", 1000, 1001, 2), ("shuffle_50ts", 1000, 501, 50)]
    )
    if args.hsofs:
        # the reference's production geometry class (HSOFS, BASELINE.md):
        # ~1.8M nodes / ~3.6M triangles regridded onto a 8400^2 ≈ 70.5M
        # centroid raster per timestep, linear-field exactness checked
        # on every output cell
        legs.append(("hsofs_production", 1350, 8400, 2))
    rc = 0
    for leg, n, grid_n, n_ts in legs:
        res = run_leg(spark, leg, n, grid_n, n_ts)
        print(json.dumps(res))
        if res["violations"]:
            rc = 1
    if args.production:
        for res in (
            run_production_e2e_leg(spark),
            run_nc4_ingest_leg(spark),
            run_production_multivar_leg(spark),
        ):
            print(json.dumps(res))
            if res["violations"]:
                rc = 1
    if args.corpus:
        for res in (
            run_corpus_lsh_leg(spark, args.corpus_docs),
            run_corpus_pipeline_leg(spark, args.corpus_docs),
            run_textfilter_leg(spark, args.corpus_docs),
            run_incremental_dedup_leg(spark, args.corpus_docs),
            run_degenerate_bucket_leg(spark),
            run_prefix_filter_leg(spark, args.corpus_docs),
            run_substring_leg(spark, args.corpus_docs),
            run_nb_classifier_leg(spark),
            run_media_leg(spark),
            # two scales: the per-hash candidate ratio's growth
            # between them is the measured birthday term (~2x at 2x n)
            run_mih_amplification_leg(spark, 100_000),
            run_mih_amplification_leg(spark, 200_000),
            run_corpus_ann_leg(spark, args.corpus_vecs),
            run_corpus_pq_leg(spark, args.corpus_vecs),
            run_semdedup_leg(spark, min(args.corpus_vecs, 100_000)),
            run_semdedup_scale_leg(spark, args.corpus_vecs),
            run_corpus_maxsim_leg(spark, args.corpus_vecs),
            run_corpus_events_leg(spark, args.corpus_events),
            run_paragraph_dedup_leg(spark, args.corpus_docs),
            run_pipeline_r11_stages_leg(spark, args.corpus_docs),
            run_ppl_ewma_leg(spark, args.corpus_docs,
                             args.corpus_events),
            run_drift_suite_leg(spark, args.corpus_events,
                                n_docs=args.corpus_docs),
            run_distwindow_leg(spark),
            run_tpch_scale_leg(spark, factor=args.tpch_factor),
            run_skew_join_leg(spark),
            run_bloom_filter_leg(spark),
            run_streaming_session_leg(spark),
        ):
            print(json.dumps(res))
            if res["violations"]:
                rc = 1
    return rc


if __name__ == "__main__":
    sys.exit(main())
