"""Text analysis over the documents table (north-star scope):
language-ID heuristic, quality scoring, token counting, document
fingerprinting. All built-in column functions (codegen, no UDF); each
has an exact DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from adcirctime2cogs_spark import memo
from adcirctime2cogs_spark.functions.numeric import r4

from adcirctime2cogs_spark.functions.text import normalized_text, tokens_col
from adcirctime2cogs_spark.tables import load_table, load_table_spread

QUERIES = {}
ORACLES = {}

# stopword marker sets for the n-gram/lexicon language heuristic
LANG_MARKERS = {
    "en": ("the", "a", "and", "of"),
    "es": ("el", "la", "de", "y"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "et", "les"),
}
LANG_ORDER = ("en", "es", "de", "fr")  # argmax tie-break priority


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


@_register(
    "text_tokens",
    """
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+'))      AS n_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+'))       AS n_words,
           len(regexp_extract_all(text, '[0-9]+'))          AS n_numbers,
           len(regexp_extract_all(text,
               '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))          AS n_bpeish
    FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex segmentation
    (alpha runs / digit runs / single symbols)."""
    docs = load_table_spread(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokens_col(F.col("text"))).alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-zA-Z]+"), 0)).alias("n_words"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0)).alias("n_numbers"),
        F.size(
            F.regexp_extract_all(
                "text", F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0
            )
        ).alias("n_bpeish"),
    )


def quality_feature_cols() -> tuple:
    """THE quality heuristic, defined once (review r11: dataprep's
    quality_verdict carried a verbatim copy of the weights/features, a
    one-sided tuning edit away from desyncing prep_quality_filter's
    verdicts from the registered text_quality score). Returns the
    (toks, n_toks, n_punct, n_stop, quality) column quintet over a
    frame with `text` and `n_chars` columns; weights 0.5 length /
    0.3 punctuation / 0.2 stopword."""
    toks = tokens_col(F.col("text"))
    n_toks = F.size(toks)
    n_punct = F.length("text") - F.length(
        F.regexp_replace("text", r"[^a-zA-Z0-9\s]", "")
    )
    n_stop = F.size(
        F.filter(toks, lambda x: x.isin(*LANG_MARKERS["en"]))
    )
    quality = (
        F.least(n_toks / 100.0, F.lit(1.0)) * 0.5
        + (1.0 - n_punct * 1.0 / F.col("n_chars")) * 0.3
        + F.least(n_stop * 5.0 / n_toks, F.lit(1.0)) * 0.2
    )
    return toks, n_toks, n_punct, n_stop, quality


@_register(
    "text_quality",
    """
    WITH t AS (
      SELECT doc_id, n_chars,
             string_split_regex(trim(text), '\\s+') AS toks,
             length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))
               AS n_punct,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                 x -> x IN ('the', 'a', 'and', 'of'))) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           round(n_chars * 1.0 / len(toks), 4)            AS avg_token_len,
           round(n_punct * 1.0 / n_chars, 4)              AS punct_ratio,
           round(n_stop * 1.0 / len(toks), 4)             AS stopword_ratio,
           round(least(len(toks) / 100.0, 1.0) * 0.5
                 + (1.0 - n_punct * 1.0 / n_chars) * 0.3
                 + least(n_stop * 5.0 / len(toks), 1.0) * 0.2, 4) AS quality
    FROM t
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / punctuation / stopword-ratio features
    folded into a [0,1] score (the standard pretraining-data heuristic
    family)."""
    docs = load_table_spread(spark, sf_dir, "documents")
    toks, n_toks, n_punct, n_stop, quality = quality_feature_cols()
    return docs.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        r4(F.col("n_chars") * 1.0 / n_toks).alias("avg_token_len"),
        r4(n_punct * 1.0 / F.col("n_chars")).alias("punct_ratio"),
        r4(n_stop * 1.0 / n_toks).alias("stopword_ratio"),
        r4(quality).alias("quality"),
    )


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return (
        f"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),"
        f" x -> x IN ({words})))"
    )


@_register(
    "text_langid",
    f"""
    WITH s AS (
      SELECT doc_id, lang AS labeled_lang,
             {_lang_score_sql("en")} AS s_en,
             {_lang_score_sql("es")} AS s_es,
             {_lang_score_sql("de")} AS s_de,
             {_lang_score_sql("fr")} AS s_fr
      FROM documents
    )
    SELECT doc_id, labeled_lang, s_en, s_es, s_de, s_fr,
           CASE
             WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN 'und'
             WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
             WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
             WHEN s_de >= s_fr THEN 'de'
             ELSE 'fr'
           END AS predicted_lang
    FROM s
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: lexicon-marker hit counts per language,
    argmax with a fixed tie-break order, 'und' when no marker hits."""
    docs = load_table_spread(spark, sf_dir, "documents")
    toks = tokens_col(F.lower(F.col("text")))
    def marker_count(words):
        # single-arg lambda: a second (defaulted) param would make Spark
        # treat it as the (element, index) arity and pass the index in
        return F.size(F.filter(toks, lambda x: x.isin(*words)))

    scores = {lang: marker_count(words) for lang, words in LANG_MARKERS.items()}
    s = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[scores[lang].alias(f"s_{lang}") for lang in LANG_ORDER],
    )
    en, es, de, fr = (F.col(f"s_{lang}") for lang in LANG_ORDER)
    pred = (
        F.when((en == 0) & (es == 0) & (de == 0) & (fr == 0), "und")
        .when((en >= es) & (en >= de) & (en >= fr), "en")
        .when((es >= de) & (es >= fr), "es")
        .when(de >= fr, "de")
        .otherwise("fr")
    )
    return s.withColumn("predicted_lang", pred)


@_register(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp_exact,
           md5(array_to_string(list_sort(list_distinct(
               string_split_regex(trim(lower(text)), '\\s+'))), ' ')) AS fp_bagofwords
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact (normalized text digest) and
    order-insensitive (sorted distinct token set digest) — the
    canonical keys for exact and reordered-dup detection."""
    docs = load_table_spread(spark, sf_dir, "documents")
    bag = F.array_join(
        F.array_sort(F.array_distinct(tokens_col(F.lower(F.col("text"))))), " "
    )
    return docs.select(
        "doc_id",
        F.md5(normalized_text(F.col("text"))).alias("fp_exact"),
        F.md5(bag).alias("fp_bagofwords"),
    )


@_register(
    "text_tfidf_top",
    """
    WITH tok AS (
      SELECT doc_id, t FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
        FROM documents
      ) WHERE t <> ''
    ),
    tf AS (SELECT doc_id, t AS term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * (ln((n.n + 1.0) / (dfq.df + 1.0)) + 1.0), 4) AS s
      FROM tf JOIN dfq USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY s DESC, term) AS rn
      FROM scored
    )
    SELECT doc_id, term, s AS tfidf, rn
    FROM ranked WHERE rn <= 3
    """,
)
def text_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf =
    ln((N+1)/(df+1)) + 1, sklearn's convention).

    The tf table is one hash agg over the token explode; df rides on a
    count window partitioned by term OVER THAT SAME tf table — the
    groupBy(term)-then-join-back form re-keys its aggregate's exchange
    to hash(term), so the tf subtree under it can never unify with the
    scoring branch's hash(doc_id, term) copy and the corpus tokenizes
    twice (measured: 3 documents scans vs this form's 2). The join
    form's tf side shuffles by term anyway, so the window costs the
    same shuffle and one less full pass; stop-word term groups are the
    window's skew, and they spill, not OOM. The document count joins
    in as a broadcast single-row literal (never a driver-side
    collect), and the per-doc top-k is a row_number window."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n = docs.agg(F.count("*").alias("n"))
    df_w = F.count("tf").over(W.partitionBy("term"))
    scored = (
        tf.withColumn("df", df_w)
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            # round BEFORE ranking (the bm25 convention): near-tied
            # raw doubles can sort differently across engines, and rn
            # is part of the hashed output
            r4(
                F.col("tf")
                * (F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) + 1.0)
            ).alias("s"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("s").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", F.col("s").alias("tfidf"), "rn")
    )


@_register(
    "text_profile",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_empty,
           round(avg(n_chars), 4) AS avg_chars,
           round(avg(length(text)), 4) AS avg_len_actual,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id,
           count(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profiling per language: row counts, empty-text counts,
    declared-vs-actual length drift, id range, source cardinality — the
    one-pass data-quality scan a training pipeline runs before and
    after every transform stage. All partial-aggregating built-ins, so
    the 100 TB cost is one scan + one tiny shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            (F.col("text").isNull() | (F.col("text") == "")).cast("bigint")
        ).alias("n_empty"),
        r4(F.avg("n_chars")).alias("avg_chars"),
        r4(F.avg(F.length("text"))).alias("avg_len_actual"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.countDistinct("source").alias("n_sources"),
    )


@_register(
    "text_blocked_editdist",
    """
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM part a
    JOIN part b ON a.p_brand = b.p_brand AND a.p_size = b.p_size
               AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 8
    """,
)
def text_blocked_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching (the entity-resolution shape): candidate
    pairs only form inside (brand, size) blocks — an equi-join, never a
    global cross product — and the quadratic edit-distance verify runs
    per block. Swap the blocking key for an LSH bucket and this is the
    record-linkage pipeline at 100 TB."""
    part = load_table(spark, sf_dir, "part")
    a = part.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        "p_brand",
        "p_size",
    )
    b = part.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        "p_brand",
        "p_size",
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, ["p_brand", "p_size"])
        .filter(F.col("key_a") < F.col("key_b"))
        .filter(dist <= 8)
        .select("key_a", "key_b", dist.alias("dist"))
    )


@_register(
    "text_train_test_split",
    """
    WITH h AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM h
    """,
)
def text_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test split by content-stable
    hash bucket (the portable md5-prefix hash32, same convention as the
    shingle hashes): reproducible across engines and runs, no RNG
    state, stable under re-partitioning — the split assignment every
    dataset card should be able to recompute."""
    docs = load_table_spread(spark, sf_dir, "documents")
    from adcirctime2cogs_spark.functions.text import hash32

    bucket = hash32(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    return docs.select("doc_id", "lang", split.alias("split"))


@_register(
    "text_pack_sequences",
    """
    WITH t AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS pack_id
    FROM c
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: docs in deterministic
    doc_id order are packed greedily into 2048-token bins via a running
    token sum — pack_id = floor(preceding_cum / budget), the window
    form of the packing loop.

    The running sum is the DISTRIBUTED two-phase parallel scan
    (functions/distwindow.prefix_sum), not a no-partition window: a
    range exchange on doc_id, a per-partition window, and the 32
    prefix-combined partition totals — bit-identical to the
    single-partition form (exact integer sums recombine under any
    range boundaries) but no row ever funnels through one reducer, so
    the plan survives 100 TB instead of documenting that it wouldn't
    (review r12; previously this was a global-order window with a
    per-shard production caveat). The partition totals are COLLECTED
    offsets (optimization r12, two tiny plan-construction jobs under
    the registry's data-versioned plan cache): the lazy join-back form
    re-executed the tokenize subtree twice — the whitespace split over
    every document ran once to count per-bucket totals and again under
    the window."""
    docs = load_table(spark, sf_dir, "documents")
    from adcirctime2cogs_spark.functions.distwindow import (
        bucket_offsets,
        prefix_sum,
    )
    from adcirctime2cogs_spark.functions.text import tokens_col

    t = docs.select(
        "doc_id", F.size(tokens_col(F.col("text"))).alias("n_tokens")
    )
    lo, hi = t.agg(
        F.min("doc_id").cast("bigint"), F.max("doc_id").cast("bigint")
    ).first()
    bounds = (lo, hi) if lo is not None else (0, 0)
    offs = bucket_offsets(
        t, F.col("doc_id"), bounds=bounds,
        value=F.col("n_tokens").cast("bigint"),
    )
    c = prefix_sum(
        t, F.col("doc_id"), ["doc_id"],
        F.col("n_tokens").cast("bigint"), "cum",
        bounds=bounds, offsets=offs,
    )
    return c.select(
        "doc_id",
        "n_tokens",
        F.floor((F.col("cum") - F.col("n_tokens")) / 2048)
        .cast("bigint")
        .alias("pack_id"),
    )


_UNIGRAM_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
vocab AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
tot AS (SELECT sum(c) AS t FROM vocab)
SELECT doc_id, count(*) AS n_tokens,
       round(avg(ln(c / (SELECT t FROM tot))), 4) AS avg_logprob,
       round(exp(-avg(ln(c / (SELECT t FROM tot)))), 4) AS ppl_proxy
FROM tok JOIN vocab USING (tok)
GROUP BY doc_id
"""


@_register("text_unigram_logprob", _UNIGRAM_SQL)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-fit quality score: per-doc mean unigram log-probability
    under the corpus's own unigram LM, plus exp(-avg) as a perplexity
    proxy — the classic cheap fluency/outlier signal a training-data
    pipeline runs before the expensive model-based filters.

    Two hash aggs and one equi-join, all keyed on the token: the vocab
    count, the token->logprob join, and the per-doc re-agg. The corpus
    total is a one-row aggregate broadcast into the vocab projection
    (scalar-subquery shape) — no driver-side scalar collect, no
    single-partition window over the vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens_col(F.lower(F.col("text")))).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").alias("t"))
    logp = vocab.join(F.broadcast(total)).select(
        "tok", F.log(F.col("c") / F.col("t")).alias("lp")
    )
    per_doc = toks.join(logp, "tok").groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.avg("lp").alias("alp"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        r4("alp").alias("avg_logprob"),
        r4(F.exp(-F.col("alp"))).alias("ppl_proxy"),
    )


_BM25_TERMS = ("spark", "query", "vector")


@_register(
    "text_bm25_topk",
    """
    WITH tok AS (
      SELECT doc_id, t FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
        FROM documents
      ) WHERE t <> ''
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
    nn AS (SELECT count(*) AS n FROM documents),
    ad AS (SELECT sum(dl) * 1.0 / (SELECT n FROM nn) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, t AS term, count(*) AS tf FROM tok
      WHERE t IN ('spark', 'query', 'vector') GROUP BY 1, 2
    ),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id,
             sum(ln(((SELECT n FROM nn) - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * 2.2
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl
                                / (SELECT avgdl FROM ad)))) AS s
      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
      GROUP BY tf.doc_id
    ),
    ranked AS (
      SELECT doc_id, round(s, 4) AS bm25,
             row_number() OVER (ORDER BY round(s, 4) DESC, doc_id) AS rn
      FROM scored
    )
    SELECT doc_id, bm25, rn FROM ranked WHERE rn <= 25
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed query
    against the corpus, top-25 documents.

    ONE tokenize pass: the per-doc aggregate computes dl AND the
    per-query-term tfs together as conditional counts (the query is a
    literal term list, so tf fans out to |query| columns, not rows).
    Every global the formula needs — sum(dl) for avgdl, df per term as
    count(tf_i > 0) — comes from one further aggregate of that SAME
    per-doc table, referencing exactly the columns the scoring branch
    reads, so the partial-agg exchange canonicalizes identically in
    both branches and ReuseExchange collapses them: the text column is
    tokenized ONCE (the previous dl/ad/tf/dfq decorrelation ran the
    explode FOUR times — per-branch pruning defeated reuse, the same
    defect as TPC-H Q2/Q15/Q17). N rides in from a column-pruned count
    scan (it counts ALL docs, token-bearing or not, so it cannot come
    from the token table). Global top-k is orderBy+limit — Spark plans
    TakeOrderedAndProject (per-partition heaps, no global sort) — with
    the rank stamped afterwards on the 25 surviving rows. Ranking
    compares the 4dp-rounded score (ties broken by doc_id) so a
    last-ulp fold difference cannot reorder engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("t"),
    ).filter(F.col("t") != "")
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.count(F.when(F.col("t") == term, 1)).alias(f"tf{i}")
            for i, term in enumerate(_BM25_TERMS)
        ],
    )
    tf_cols = [f"tf{i}" for i in range(len(_BM25_TERMS))]
    nn = docs.agg(F.count("*").alias("n"))
    glob = per_doc.agg(
        F.sum("dl").alias("sum_dl"),
        *[F.count(F.when(F.col(c) > 0, 1)).alias(f"df{i}")
          for i, c in enumerate(tf_cols)],
    )
    avgdl = F.col("sum_dl") * 1.0 / F.col("n")

    def term_score(i: int):
        tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
        idf = F.log((F.col("n") - df + 0.5) / (df + 0.5) + 1.0)
        return (
            idf * tf * 2.2
            / (tf + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / avgdl))
        )

    s = sum((term_score(i) for i in range(1, len(_BM25_TERMS))),
            term_score(0))
    scored = (
        per_doc.filter(
            sum((F.col(c) for c in tf_cols[1:]), F.col(tf_cols[0])) > 0
        )
        .crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(glob))
        .select("doc_id", s.alias("s"))
    )
    top = (
        scored.select("doc_id", r4("s").alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(25)
    )
    w = W.orderBy(F.col("bm25").desc(), "doc_id")
    return top.withColumn("rn", F.row_number().over(w))


@_register(
    "text_bpe_pair_counts",
    """
    WITH heads AS (
      SELECT doc_id, substr(text, 1, 200) AS h FROM documents
    ),
    grams AS (
      SELECT substr(h, CAST(i AS INTEGER), 2) AS pair
      FROM heads, unnest(range(1, length(h))) AS t(i)
    ),
    counts AS (
      SELECT pair, count(*) AS n FROM grams
      WHERE length(pair) = 2 GROUP BY pair
    ),
    ranked AS (
      SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rn
      FROM counts
    )
    SELECT pair, n, rn FROM ranked WHERE rn <= 50
    """,
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE iteration: corpus-wide adjacent character-pair
    frequencies, top-50 merge candidates — the inner loop of tokenizer
    vocabulary induction, run as one explode + hash agg.

    Each doc head explodes to length-1 bigram rows JVM-side (sequence +
    substr, no UDF); the pair count partial-aggregates map-side so the
    shuffle carries one row per distinct pair per partition, and the
    global top-50 is TakeOrderedAndProject. Doc heads are capped at 200
    chars so the explode is bounded per row (the real loop would run on
    the tokenized corpus with the same plan)."""
    docs = load_table(spark, sf_dir, "documents")
    heads = docs.select(F.substring("text", 1, 200).alias("h"))
    grams = (
        heads.select(
            F.explode(F.sequence(F.lit(1), F.length("h") - 1)).alias("i"), "h"
        )
        .select(F.expr("substr(h, i, 2)").alias("pair"))
        .filter(F.length("pair") == 2)
    )
    counts = grams.groupBy("pair").agg(F.count("*").alias("n"))
    top = counts.orderBy(F.col("n").desc(), "pair").limit(50)
    w = W.orderBy(F.col("n").desc(), "pair")
    return top.withColumn("rn", F.row_number().over(w))


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"[0-9]{3}-[0-9]{4}"


@_register(
    "text_pii_redact",
    f"""
    WITH d AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS dirty
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(dirty, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(dirty, '{_PHONE_RE}')) AS n_phones,
           md5(regexp_replace(regexp_replace(dirty, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                              '{_PHONE_RE}', '[PHONE]', 'g')) AS clean_md5,
           length(dirty)
             - length(regexp_replace(regexp_replace(dirty, '{_EMAIL_RE}',
                                                    '[EMAIL]', 'g'),
                                     '{_PHONE_RE}', '[PHONE]', 'g'))
             AS chars_removed
    FROM d
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (emails, phone-shaped digit runs):
    count matches, replace with typed placeholder tokens, emit the
    redacted text's md5 and the net character delta — the standard
    pre-training scrub pass, all JVM-side regex (no UDF).

    The fixture corpus is deterministically clean (no digits or '@'),
    so each doc plants one email + one phone derived from its own
    doc_id before redaction — identical construction in both engines,
    which turns the oracle into a true positive-path check rather than
    an all-zeros one. Patterns stay in the Java-regex ∩ RE2 common
    subset (no backrefs/lookaround) so both engines match identically;
    at 100 TB this is a narrow map-only projection."""
    docs = load_table_spread(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(dirty, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(dirty, F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(dirty, F.lit(_PHONE_RE)).alias("n_phones"),
        F.md5(clean).alias("clean_md5"),
        (F.length(dirty) - F.length(clean)).alias("chars_removed"),
    )


BPE_MERGES = 10


@_register("text_bpe_train")  # iterative (N data-dependent rounds): no
# SQL oracle is possible — each round's pair statistics depend on the
# previous round's chosen merge; pinned by tests/test_dataprep.py's
# pure-Python reference-BPE equality instead, and exempt from the
# modified-stays-in-window rule (a window slot buys only a row-count
# check for an oracle-less query; hash slots go to oracled rows)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL BPE tokenizer training (Sennrich word-level BPE), the
    iterative text workload beyond the single pair-count pass
    (text_bpe_pair_counts): BPE_MERGES rounds of count-pairs ->
    pick-best -> apply-merge, returning the learned merge table
    (rank, left, right, pair_count).

    Scale shape — the classic trick makes this tractable at 100 TB:
    after ONE corpus-sized tokenize+count shuffle, every round runs
    over the DISTINCT-WORD histogram (vocabulary-sized, ~sqrt of
    corpus growth), so per-round cost is one explode + hash-agg over
    the vocabulary and the driver receives exactly ONE row per round
    (the argmax pair — same driver-traffic contract as k-means'
    k x dim means and PageRank's convergence scalar). The merge apply
    is an Arrow-batched pandas UDF doing the leftmost-first
    non-overlapping pair replacement per word. Determinism: ties break
    (count desc, left, right) — no RNG anywhere."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("w"))
        .filter((F.length("w") >= 2) & (F.length("w") <= 20))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    vocab = words.select(
        F.expr("split(w, '')").alias("syms"), "cnt"
    ).persist()

    def pair_counts(v):
        # the size >= 2 filter is load-bearing: sequence(1, 0) is
        # [1, 0] (Spark steps DOWN when start > stop), so a fully
        # merged single-symbol word would index syms[1] on a 1-element
        # array — an ANSI-mode job abort (or, ANSI off, phantom null
        # pairs counted into the argmax)
        return (
            v.filter(F.expr("size(syms) >= 2"))
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(syms[i-1] AS l, syms[i] AS r))"
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("n"))
        )

    merges: list[tuple[int, str, str, int]] = []
    try:
        for rank in range(BPE_MERGES):
            top = (
                pair_counts(vocab)
                .orderBy(F.col("n").desc(), "l", "r")
                .limit(1)
                .collect()
            )
            if not top:
                break
            left, right, n = top[0].l, top[0].r, int(top[0].n)
            merges.append((rank, left, right, n))
            if rank == BPE_MERGES - 1:
                break  # the last merge is never applied — skip the pass

            def apply_merge(batches, _l=left, _r=right):
                for pdf in batches:
                    out = []
                    for syms in pdf["syms"]:
                        res, i = [], 0
                        while i < len(syms):
                            if (
                                i + 1 < len(syms)
                                and syms[i] == _l
                                and syms[i + 1] == _r
                            ):
                                res.append(_l + _r)
                                i += 2
                            else:
                                res.append(syms[i])
                                i += 1
                        out.append(res)
                    yield pd.DataFrame({"syms": out, "cnt": pdf["cnt"]})

            nxt = vocab.mapInPandas(
                apply_merge, schema="syms array<string>, cnt long"
            ).persist()
            nxt.count()  # materialize before unpersisting the parent
            vocab.unpersist()
            vocab = nxt
    finally:
        vocab.unpersist()  # also covers a mid-round failure
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count long"
    )


_JAVA_TRIM = "".join(chr(c) for c in range(0x21))  # String.trim strips <= U+0020
_JAVA_WS = None  # compiled lazily (regex import stays off the hot path)


def java_ws_tokens(text: str) -> list[str]:
    """Python twin of tokens_col's Java semantics: trim chars <=
    U+0020 then split on Java \\s+ ([ \\t\\n\\x0b\\f\\r] — ASCII
    only). A plain str.split() would ALSO split on Unicode whitespace
    (NBSP, em-space...), silently tokenizing differently than the
    JVM-side training pass."""
    global _JAVA_WS
    if _JAVA_WS is None:
        import re

        _JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
    t = (text or "").strip(_JAVA_TRIM)
    return [w for w in _JAVA_WS.split(t) if w]


def bpe_merge_ranks(spark: SparkSession, sf_dir: str) -> dict:
    """{(left, right): rank} from text_bpe_train, stored in the session
    memo under sf_dir — training is BPE_MERGES iterative Spark rounds,
    far too heavy to re-run on every plan construction."""
    return memo.get(
        spark, "textstats.bpe_merge_ranks", sf_dir,
        lambda: {
            (r.left, r.right): r.rank
            for r in text_bpe_train(spark, sf_dir).collect()
        },
    )


@_register("text_bpe_encode")  # rows-only like text_bpe_train: the
# token boundaries depend on the learned (data-dependent, iterative)
# merge table, so no closed-form SQL oracle exists; pinned by
# tests/test_dataprep.py's pure-Python reference-encoder equality
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the TRAINED merge table to the corpus — the serving half
    of the tokenizer story (text_bpe_train learns the merges, this
    encodes with them, the way a pipeline tokenizes petabytes with a
    vocabulary learned once). Per doc: word count, pre-merge symbol
    count, and the post-encode BPE token count.

    Scale shape: the merge table is vocabulary-sized driver state
    (BPE_MERGES rows) broadcast into an Arrow-batched mapInPandas
    encoder; the corpus streams through in one map-only pass — no
    shuffle at all, the ideal 100 TB profile. The encoder is the
    standard rank-greedy BPE: repeatedly merge the lowest-rank
    adjacent pair, leftmost-first non-overlapping."""
    import pandas as pd

    ranks = bpe_merge_ranks(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")

    def encode(batches, _ranks=ranks):
        for pdf in batches:
            ids, n_words, n_syms, n_bpe = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # SAME tokenization as training (tokens_col's Java
                # trim + \s+ semantics via java_ws_tokens, then the
                # 2..20-length filter) — a different tokenizer here
                # would encode words no merge was learned for
                words = [
                    w for w in java_ws_tokens(text)
                    if 2 <= len(w) <= 20
                ]
                syms_total = sum(len(w) for w in words)
                toks = 0
                for w in words:
                    toks += len(bpe_encode_word(w, _ranks))
                ids.append(doc_id)
                n_words.append(len(words))
                n_syms.append(syms_total)
                n_bpe.append(toks)
            yield pd.DataFrame({
                "doc_id": ids, "n_words": n_words,
                "n_syms": n_syms, "n_bpe_tokens": n_bpe,
            })

    return docs.select("doc_id", "text").mapInPandas(
        encode,
        schema="doc_id long, n_words int, n_syms int, n_bpe_tokens int",
    )


def bpe_encode_word(word: str, ranks: dict) -> list[str]:
    """Rank-greedy BPE encode of one word: merge the lowest-rank
    adjacent pair (leftmost-first, non-overlapping) until no learned
    pair remains. Pure Python so tests can pin the Spark encoder to
    this exact function."""
    syms = list(word)
    while len(syms) >= 2:
        best, best_rank = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = (syms[i], syms[i + 1]), r
        if best is None:
            break
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


_NB_SQL = r"""
WITH tok AS (
  SELECT doc_id, lang, t AS tok FROM (
    SELECT doc_id, lang,
           unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
    FROM documents
  ) WHERE t <> ''
),
counts AS (
  SELECT lang, tok, count(*) AS c FROM tok GROUP BY 1, 2
),
vv AS (SELECT count(DISTINCT tok) AS v FROM tok),
ct AS (SELECT lang, sum(c) AS ct FROM counts GROUP BY 1),
cls AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
nn AS (SELECT count(*) AS n FROM documents),
linfo AS (
  SELECT cls.lang,
         ln(cls.n_docs * 1.0 / (SELECT n FROM nn)) AS lp0,
         ln(ct.ct + (SELECT v FROM vv)) AS pen
  FROM cls JOIN ct USING (lang)
),
ndoc AS (
  SELECT d.doc_id, d.lang AS labeled_lang, count(t.tok) AS n_toks
  FROM documents d LEFT JOIN tok t ON d.doc_id = t.doc_id
  GROUP BY 1, 2
),
s1 AS (
  SELECT t.doc_id, c.lang, sum(ln(c.c + 1.0)) AS s1
  FROM tok t JOIN counts c ON t.tok = c.tok
  GROUP BY 1, 2
),
scored AS (
  SELECT nd.doc_id, nd.labeled_lang, li.lang,
         round(li.lp0 + coalesce(s1.s1, 0.0) - nd.n_toks * li.pen, 4)
           AS nb_score
  FROM ndoc nd CROSS JOIN linfo li
  LEFT JOIN s1 ON s1.doc_id = nd.doc_id AND s1.lang = li.lang
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY nb_score DESC, lang
  ) AS rn
  FROM scored
)
SELECT doc_id, labeled_lang, lang AS predicted_lang, nb_score,
       CASE WHEN lang = labeled_lang THEN 1 ELSE 0 END AS hit
FROM ranked WHERE rn = 1
"""


def _nb_model_artifacts(spark: SparkSession, sf_dir: str):
    """The NB classifier's shared intermediates, persisted once per
    (application, corpus, data version) in the session memo: `counts`
    — the fitted model's (lang, tok, c) table — and `ndoc` — the
    per-doc (doc_id, labeled_lang, n_toks) frame. Without them the
    declarative plan re-scans the corpus seven times (counts feeds
    vocab-size, class totals AND the scoring join; ndoc feeds priors,
    the total-doc count AND the score assembly — Catalyst duplicates
    each subtree); with them, training + scoring touch the corpus
    exactly three times: counts build, scoring join, per-doc
    projection."""
    return memo.get(spark, "textstats.nb_model", sf_dir,
                    lambda: _build_nb_model_artifacts(spark, sf_dir))


def _build_nb_model_artifacts(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang",
        F.explode(tokens_col(F.lower(F.col("text")))).alias("tok"),
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("lang", "tok").agg(F.count("*").alias("c")).persist()
    ndoc = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        # NULL text must count as 0 tokens (the oracle's LEFT-JOIN
        # semantics): size() yields NULL/-1 on NULL input depending on
        # the legacy flag, so clamp both away
        F.greatest(
            F.lit(0),
            F.coalesce(
                F.size(F.filter(tokens_col(F.lower(F.col("text"))),
                                lambda x: x != "")),
                F.lit(0),
            ),
        ).alias("n_toks"),
    ).persist()
    return counts, ndoc


@_register("text_nb_classify", _NB_SQL)
def text_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED text classifier: multinomial Naive Bayes with Laplace
    smoothing, fit on the corpus's own (lang, token) counts and applied
    back to every document — the classic cheap domain/language/quality
    classifier a training-data pipeline fits on labeled seed data
    (McCallum & Nigam 1998; the fasttext-classifier role).

    Scale shape: the naive formulation scores against a vocab x classes
    grid (billions of rows at web scale). This plan uses the algebraic
    identity  sum_t ln((c+1)/(ct+V)) = sum_{t: c>0} ln(c+1)
    - n_tokens * ln(ct+V),  so zero-count (class, token) pairs
    CONTRIBUTE NOTHING and the only wide join is tokens x observed
    counts on the token key — one shuffle, sized by the corpus, not by
    vocab x classes. Class totals/priors/vocab size are one-row or
    classes-row broadcasts (the text_bm25_topk pattern). Prediction is
    a per-doc argmax window on the ROUNDED score (tie-break lang asc)
    so the oracle comparison is float-stable."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang",
        F.explode(tokens_col(F.lower(F.col("text")))).alias("tok"),
    ).filter(F.col("tok") != "")
    counts, ndoc = _nb_model_artifacts(spark, sf_dir)
    # every model global derives from the PERSISTED counts/ndoc
    # artifacts, not from extra corpus passes: vocab size and class
    # token totals are aggregates of the (lang, tok, c) model table,
    # class priors come from the per-doc frame the scorer needs anyway
    vv = counts.agg(F.countDistinct("tok").alias("v"))
    ct = counts.groupBy("lang").agg(F.sum("c").alias("ct"))
    cls = ndoc.groupBy("labeled_lang").agg(F.count("*").alias("n_docs"))
    nn = cls.agg(F.sum("n_docs").alias("n"))
    linfo = (
        cls.withColumnRenamed("labeled_lang", "lang")
        .join(ct, "lang")
        .join(F.broadcast(nn))
        .join(F.broadcast(vv))
        .select(
            "lang",
            F.log(F.col("n_docs") / F.col("n")).alias("lp0"),
            F.log(F.col("ct") + F.col("v")).alias("pen"),
        )
    )
    s1 = (
        toks.select("doc_id", "tok")
        .join(counts.withColumnRenamed("lang", "clang"), "tok")
        .groupBy("doc_id", "clang")
        .agg(F.sum(F.log(F.col("c") + 1.0)).alias("s1"))
        .withColumnRenamed("doc_id", "sdoc")
    )
    scored = (
        ndoc.crossJoin(F.broadcast(linfo))
        .join(
            s1,
            on=[F.col("doc_id") == F.col("sdoc"),
                F.col("lang") == F.col("clang")],
            how="left",
        )
        .select(
            "doc_id", "labeled_lang", "lang",
            r4(
                F.col("lp0") + F.coalesce(F.col("s1"), F.lit(0.0))
                - F.col("n_toks") * F.col("pen")
            ).alias("nb_score"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(
        F.col("nb_score").desc(), F.col("lang").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id", "labeled_lang",
            F.col("lang").alias("predicted_lang"),
            "nb_score",
            F.when(F.col("lang") == F.col("labeled_lang"), 1)
            .otherwise(0).alias("hit"),
        )
    )


# ------------------------------------------------------------------
# Gopher/MassiveText-style repetition filters (Rae et al. 2021,
# table A1 — the published pre-training quality gate this engine's
# corpus pipeline feeds). All word-n-gram based: the fixture corpus
# is single-line, so line/paragraph variants would be degenerate
# here; the n-gram family is the part that transfers to any corpus.
#
# Registration note (round-rotation rule): the r09 external window is
# full (46 forced-stale + 4 new entries), so `repetition_stats` ships
# library-level this round with _REPETITION_SQL as its ready oracle
# and pytest/DuckDB parity pinned in tests/test_dataprep.py; round 10
# registered it as text_repetition_stats (below, window slot 1).
_REPETITION_NS_TOP = (2, 3, 4)
_REPETITION_NS_DUP = (5, 6, 7, 8, 9, 10)

_REPETITION_SQL = """
WITH toks AS (
  SELECT doc_id, length(text) AS n_chars, string_split(text, ' ') AS t
  FROM documents
),
base AS (
  SELECT doc_id, n_chars,
         round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 4)
           AS dup_token_frac
  FROM toks
),
pos AS (
  SELECT doc_id, n_chars, t, len(t) AS nt,
         unnest(range(1, len(t) + 1)) AS p
  FROM toks
),
grams AS (
  SELECT doc_id, n_chars, ns.n,
         array_to_string(t[p:p + ns.n - 1], ' ') AS g
  FROM pos, (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n) ns
  WHERE p + ns.n - 1 <= nt
),
counts AS (
  SELECT doc_id, any_value(n_chars) AS n_chars, n, g, count(*) AS cnt
  FROM grams GROUP BY doc_id, n, g
),
mets AS (
  SELECT doc_id, any_value(n_chars) AS n_chars,
         max(CASE WHEN n = 2 THEN cnt * length(g) END) AS top2,
         max(CASE WHEN n = 3 THEN cnt * length(g) END) AS top3,
         max(CASE WHEN n = 4 THEN cnt * length(g) END) AS top4,
         sum(CASE WHEN n = 5 AND cnt >= 2 THEN cnt * length(g) END) AS dup5,
         sum(CASE WHEN n = 6 AND cnt >= 2 THEN cnt * length(g) END) AS dup6,
         sum(CASE WHEN n = 7 AND cnt >= 2 THEN cnt * length(g) END) AS dup7,
         sum(CASE WHEN n = 8 AND cnt >= 2 THEN cnt * length(g) END) AS dup8,
         sum(CASE WHEN n = 9 AND cnt >= 2 THEN cnt * length(g) END) AS dup9,
         sum(CASE WHEN n = 10 AND cnt >= 2 THEN cnt * length(g) END) AS dup10
  FROM counts GROUP BY doc_id
)
SELECT b.doc_id, b.dup_token_frac,
  round(least(CAST(coalesce(m.top2, 0) AS DOUBLE) / greatest(b.n_chars, 1), 1.0), 4) AS top2_char_frac,
  round(least(CAST(coalesce(m.top3, 0) AS DOUBLE) / greatest(b.n_chars, 1), 1.0), 4) AS top3_char_frac,
  round(least(CAST(coalesce(m.top4, 0) AS DOUBLE) / greatest(b.n_chars, 1), 1.0), 4) AS top4_char_frac,
  round(least(CAST(coalesce(m.dup5, 0) AS DOUBLE) / greatest(b.n_chars, 1), 1.0), 4) AS dup5_char_frac,
  round(least(CAST(coalesce(m.dup6, 0) AS DOUBLE) / greatest(b.n_chars, 1), 1.0), 4) AS dup6_char_frac,
  round(least(CAST(coalesce(m.dup7, 0) AS DOUBLE) / greatest(b.n_chars, 1), 1.0), 4) AS dup7_char_frac,
  round(least(CAST(coalesce(m.dup8, 0) AS DOUBLE) / greatest(b.n_chars, 1), 1.0), 4) AS dup8_char_frac,
  round(least(CAST(coalesce(m.dup9, 0) AS DOUBLE) / greatest(b.n_chars, 1), 1.0), 4) AS dup9_char_frac,
  round(least(CAST(coalesce(m.dup10, 0) AS DOUBLE) / greatest(b.n_chars, 1), 1.0), 4) AS dup10_char_frac
FROM base b LEFT JOIN mets m USING (doc_id)
"""


def repetition_stats(docs: DataFrame,
                     top_ns: tuple = _REPETITION_NS_TOP,
                     dup_ns: tuple = _REPETITION_NS_DUP) -> DataFrame:
    """Per-document word-n-gram repetition metrics over (doc_id,
    text): dup_token_frac (1 - distinct/total tokens, row-local),
    top{n}_char_frac for n in top_ns (characters covered by the
    single heaviest n-gram — count x gram length, including inner
    separators — over total chars, capped at 1), and dup{n}_char_frac
    for n in dup_ns (characters covered by ALL occurrences of
    duplicated n-grams, uncorrected for overlap, capped at 1). The
    exact definitions are pinned so the DuckDB twin
    (_REPETITION_SQL) is bit-stable under r4 rounding.

    Scale shape (100 TB): ONE generate-explode pass emits every
    (n, gram) for all n in a single array concat (no per-n scans);
    the only wide shuffle is the (doc_id, n, gram) hash-agg, which is
    combine-heavy map-side; the per-doc metric agg and the final join
    both key on doc_id, so AQE coalesces them onto the same
    partitioning. Per-doc state is bounded by document length —
    nothing global, no skew beyond document size itself."""
    ns = sorted(set(top_ns) | set(dup_ns))
    toks = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.split("text", " ").alias("t"),
    )
    base = toks.select(
        "doc_id", "n_chars", "t",
        r4(1.0 - F.size(F.array_distinct("t"))
           / F.greatest(F.size("t"), F.lit(1))).alias("dup_token_frac"),
    )
    gram_arrays = [
        F.expr(
            f"CASE WHEN size(t) >= {n} THEN "
            f"transform(sequence(1, size(t) - {n} + 1), "
            f"i -> struct({n} AS n, array_join(slice(t, i, {n}), ' ') "
            f"AS g)) ELSE array() END"
        )
        for n in ns
    ]
    grams = base.select(
        "doc_id", "n_chars",
        F.explode(F.concat(*gram_arrays)).alias("ng"),
    ).select("doc_id", "n_chars", F.col("ng.n").alias("n"),
             F.col("ng.g").alias("g"))
    counts = grams.groupBy("doc_id", "n", "g").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.first("n_chars").alias("n_chars"),
    )
    aggs = []
    for n in top_ns:
        aggs.append(
            F.max(F.when(F.col("n") == n, F.col("cnt") * F.length("g")))
            .alias(f"top{n}")
        )
    for n in dup_ns:
        aggs.append(
            F.sum(F.when((F.col("n") == n) & (F.col("cnt") >= 2),
                         F.col("cnt") * F.length("g")))
            .alias(f"dup{n}")
        )
    mets = counts.groupBy("doc_id").agg(*aggs)
    out = base.select("doc_id", "n_chars", "dup_token_frac").join(
        mets, "doc_id", "left"
    )
    cols = [F.col("doc_id"), F.col("dup_token_frac")]
    for kind, nn in (("top", top_ns), ("dup", dup_ns)):
        for n in nn:
            cols.append(
                r4(F.least(
                    F.coalesce(F.col(f"{kind}{n}"), F.lit(0))
                    .cast("double")
                    / F.greatest(F.col("n_chars"), F.lit(1)),
                    F.lit(1.0),
                )).alias(f"{kind}{n}_char_frac")
            )
    return out.select(*cols)


def repetition_filter(docs: DataFrame,
                      max_dup_token_frac: float = 0.4,
                      max_top2_char_frac: float = 0.20,
                      max_dup5_char_frac: float = 0.15) -> DataFrame:
    """Gopher-style keep/drop gate over repetition_stats: keeps
    documents under all three repetition ceilings (the paper's
    dup-line thresholds transplanted to the word-n-gram metrics that
    exist for single-line corpora). Returns (doc_id, keep) so the
    corpus pipeline can semi-join survivors without recomputing."""
    s = repetition_stats(docs)
    return s.select(
        "doc_id",
        ((F.col("dup_token_frac") <= max_dup_token_frac)
         & (F.col("top2_char_frac") <= max_top2_char_frac)
         & (F.col("dup5_char_frac") <= max_dup5_char_frac))
        .cast("int").alias("keep"),
    )


@_register("text_repetition_stats", _REPETITION_SQL)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query shape of repetition_stats over the documents
    table (Gopher table-A1 repetition metrics, Rae et al. 2021).
    Registered in round 10 per the rotation queue noted in registry.py
    — built and DuckDB-parity-pinned since round 9
    (tests/test_dataprep.py)."""
    return repetition_stats(load_table(spark, sf_dir, "documents"))


# ------------------------------------------------------------------
# Bigram-LM fluency scoring (the CCNet-style perplexity filter shape,
# Wenzek et al. 2020 — trained here on the corpus itself, the same
# self-fit stance as text_unigram_logprob). Registered as
# text_bigram_logprob in round 11 (the r10 window was at capacity);
# _BIGRAM_SQL is the oracle, tests/test_dataprep.py pins DuckDB parity.

_BIGRAM_K = 0.5  # add-k smoothing

_BIGRAM_SQL = """
WITH arr AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
),
pairs AS (
  SELECT doc_id, t[p] AS w1, t[p + 1] AS w2
  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS p FROM arr)
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2),
c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
v AS (
  SELECT count(DISTINCT tok) AS vs
  FROM (SELECT unnest(t) AS tok FROM arr)
)
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(ln((c2 + 0.5) / (c1 + 0.5 * (SELECT vs FROM v)))), 4)
         AS avg_logprob,
       round(exp(-avg(ln((c2 + 0.5)
                         / (c1 + 0.5 * (SELECT vs FROM v))))), 4)
         AS ppl_proxy
FROM pairs JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
GROUP BY doc_id
"""


def bigram_logprob(docs: DataFrame, k: float = _BIGRAM_K) -> DataFrame:
    """Per-document mean bigram log-probability under an add-k-
    smoothed bigram LM fit on the corpus itself, plus exp(-avg) as a
    perplexity proxy — the next fluency signal up from
    text_unigram_logprob and the distributable core of the CCNet
    perplexity filter (swap the self-fit counts for a reference
    corpus's and nothing else changes). P(w2|w1) = (C(w1,w2) + k) /
    (C(w1) + k*V) with C(w1) = bigram-context count and V = corpus
    unigram vocabulary. Documents under 2 tokens have no bigrams and
    are omitted (nothing to score).

    Scale shape (100 TB): bigrams are built ROW-LOCALLY from the
    token array (no positional self-join); the wide aggs are the
    (w1, w2) count and its (w1) re-agg — both combine-heavy and
    vocabulary-sized, not corpus-sized; V is a one-row aggregate
    broadcast into the probability projection (the scalar-subquery
    shape, no driver collect); scoring is two hash joins keyed on the
    bigram/context and one per-doc re-agg."""
    arr = docs.select(
        "doc_id", tokens_col(F.lower(F.col("text"))).alias("t")
    )
    pairs = arr.select(
        "doc_id",
        F.explode(F.expr(
            "CASE WHEN size(t) >= 2 THEN transform(sequence(1, "
            "size(t) - 1), i -> struct(t[i - 1] AS w1, t[i] AS w2)) "
            "ELSE array() END"
        )).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    c2 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vsize = (
        arr.select(F.explode("t").alias("tok"))
        .agg(F.countDistinct("tok").alias("vs"))
    )
    lp = (
        c2.join(c1, "w1")
        .join(F.broadcast(vsize))
        .select(
            "w1", "w2",
            F.log((F.col("c2") + k) / (F.col("c1") + k * F.col("vs")))
            .alias("lp"),
        )
    )
    per_doc = pairs.join(lp, ["w1", "w2"]).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("lp").alias("alp"),
    )
    return per_doc.select(
        "doc_id", "n_bigrams",
        r4("alp").alias("avg_logprob"),
        r4(F.exp(-F.col("alp"))).alias("ppl_proxy"),
    )


@_register("text_bigram_logprob", _BIGRAM_SQL)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query shape of bigram_logprob over the documents
    table (CCNet-style bigram-LM fluency scoring, Wenzek et al.
    2020). Registered in round 11 per the rotation queue noted in
    registry.py — built and DuckDB-parity-pinned since round 10
    (tests/test_dataprep.py)."""
    return bigram_logprob(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing.

# Per-token log-probs are summed as exact BIGINTs in 1/_LP_SCALE
# units (the _CUSUM_SCALE discipline, see eventwindows.py): a float
# avg(lp) is association-sensitive — Spark's parallel hash-agg and
# DuckDB's fold can disagree in the last ULP, and the ntile(3) rank
# below turns a pre-rounding ULP flip into a doc changing tercile
# (ADVICE r11). Quantized at 1e-9 the sum is exact in any fold order;
# the quantization bias is identical on both engines and ~1e-9 per
# token, invisible at the 4dp output grid. Headroom: |lp| < 40
# (ln of a 1-in-1e17 token), so a 2e8-token doc stays inside int64.
_LP_SCALE = 10**9

_PPL_BUCKETS_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
vocab AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
tot AS (SELECT sum(c) AS t FROM vocab),
per_doc AS (
  SELECT doc_id, count(*) AS n_tokens,
         floor(exp(-(CAST(sum(CAST(floor(ln(c / (SELECT t FROM tot))
                                         * {_LP_SCALE} + 0.5) AS BIGINT))
                          AS DOUBLE)
                     / (count(*) * {_LP_SCALE})))
               * 1e4 + 0.5) / 1e4 AS ppl
  FROM tok JOIN vocab USING (tok)
  GROUP BY doc_id
),
ranked AS (
  SELECT d.lang, p.doc_id, p.n_tokens, p.ppl,
         ntile(3) OVER (PARTITION BY d.lang ORDER BY p.ppl, p.doc_id) AS b
  FROM per_doc p JOIN documents d USING (doc_id)
)
SELECT lang,
       CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS bucket,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       -- ppl is exactly m/1e4 by construction, so summing the integer
       -- m's keeps the bucket mean fold-order-exact too; the single
       -- final division is one deterministic double op per engine
       floor(CAST(sum(CAST(floor(ppl * 1e4 + 0.5) AS BIGINT)) AS DOUBLE)
             / count(*) + 0.5) / 1e4 AS avg_ppl
FROM ranked
GROUP BY lang, b
"""


@_register("text_ppl_buckets", _PPL_BUCKETS_SQL)
def text_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail quality bucketing: score every
    document with the corpus-fit unigram perplexity proxy (the exact
    text_unigram_logprob quantity), rank WITHIN EACH LANGUAGE, and cut
    into terciles — CCNet's per-language head/middle/tail split that
    LLaMA's data pipeline filters on. Output: per (lang, bucket) doc
    count, token mass, and mean perplexity.

    Determinism: the tercile rank orders by the 4dp-rounded perplexity
    (the same engine-exact floor form both engines round with) with
    doc_id as the tiebreak, so ntile assignment is reproducible across
    engines.

    100 TB shape: the LM is two hash-aggs and one token equi-join
    (text_unigram_logprob's plan); the tercile is ONE window per
    language partition. Exact ntile is the oracle-checked semantics;
    at corpus scale a language (English ~half the corpus) makes that
    partition's sort the bottleneck, and the production path swaps in
    approx_percentile cutoffs per language (broadcast the 2 cut points,
    assign by comparison — no global sort), changing only knife-edge
    boundary assignment.

    Reference parity: none (no text surface) — north-star text-analysis
    family, BASELINE.json."""
    docs = load_table(spark, sf_dir, "documents")
    ranked = ppl_doc_terciles(docs)
    return ranked.groupBy("lang", "b").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        # exact-integer mean of the 4dp ppls — see _PPL_BUCKETS_SQL
        (
            F.floor(
                F.sum(F.floor(F.col("ppl") * 1e4 + 0.5).cast("bigint"))
                .cast("double") / F.count("*") + 0.5
            ) / 1e4
        ).alias("avg_ppl"),
    ).select(
        "lang", _bucket_name().alias("bucket"), "n_docs", "total_tokens",
        "avg_ppl",
    )


def _bucket_name():
    # built lazily: a module-level Column would need a live
    # SparkContext at import time
    return (
        F.when(F.col("b") == 1, "head")
        .when(F.col("b") == 2, "middle")
        .otherwise("tail")
    )


def ppl_doc_terciles(docs: DataFrame) -> DataFrame:
    """Per-DOC tercile assignment under the corpus-fit unigram LM —
    the shared kernel of the registered text_ppl_buckets aggregate and
    the corpus pipeline's ppl_tail_filter stage (which semi-joins away
    bucket 3). Returns (doc_id, lang, n_tokens, ppl, b) with b in
    {1, 2, 3} ascending by perplexity within each language."""
    toks = docs.select(
        "doc_id", F.explode(tokens_col(F.lower(F.col("text")))).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").alias("t"))
    logp = vocab.join(F.broadcast(total)).select(
        "tok",
        # quantize per-token log-probs to exact BIGINT 1/_LP_SCALE
        # units so the per-doc sum is fold-order-independent — the
        # float avg(lp) this replaces could flip a doc across a ntile
        # boundary between engines (ADVICE r11; see _PPL_BUCKETS_SQL)
        F.floor(F.log(F.col("c") / F.col("t")) * _LP_SCALE + 0.5)
        .cast("bigint")
        .alias("lpq"),
    )
    per_doc = toks.join(logp, "tok").groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("lpq").alias("slpq"),
    ).select(
        "doc_id",
        "n_tokens",
        r4(
            F.exp(-(F.col("slpq").cast("double")
                    / (F.col("n_tokens") * float(_LP_SCALE))))
        ).alias("ppl"),
    )
    return per_doc.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        "n_tokens",
        "ppl",
        F.ntile(3)
        .over(W.partitionBy("lang").orderBy("ppl", "doc_id"))
        .alias("b"),
    )

# ---------------------------------------------------------------------------
# Gopher document-level rule filter (Rae et al. 2021, Appendix A —
# the threshold-rule half; the repetition half is text_repetition_stats
# / repetition_filter above). Canonical published constants; every
# feature is row-local integer arithmetic, so there is nothing for
# engine fold order to diverge on — only the two ratio columns round.

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1  # non-alphanumeric symbols per word
GOPHER_MIN_ALPHA_WORD_FRAC = 0.80
GOPHER_MIN_STOPWORDS = 2

_GOPHER_SQL = f"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\\s+') AS toks,
         length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))
           AS n_sym
  FROM documents
),
f AS (
  SELECT doc_id,
         len(toks) AS n_words,
         list_sum(list_transform(toks, x -> length(x))) AS sum_wlen,
         n_sym,
         len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
           AS n_alpha_words,
         len(list_filter(toks, x -> x IN ('the', 'a', 'and', 'of')))
           AS n_stop
  FROM t
)
SELECT doc_id, n_words,
       round(sum_wlen * 1.0 / n_words, 4) AS mean_word_len,
       round(n_sym * 1.0 / n_words, 4) AS symbol_ratio,
       round(n_alpha_words * 1.0 / n_words, 4) AS alpha_word_frac,
       n_stop,
       CAST(n_words >= {GOPHER_MIN_WORDS}
            AND n_words <= {GOPHER_MAX_WORDS} AS INT) AS ok_words,
       CAST(sum_wlen * 10 >= {int(GOPHER_MIN_MEAN_WORD_LEN * 10)} * n_words
            AND sum_wlen * 10 <= {int(GOPHER_MAX_MEAN_WORD_LEN * 10)} * n_words
            AS INT) AS ok_wlen,
       CAST(n_sym * 10 <= n_words AS INT) AS ok_sym,
       CAST(n_alpha_words * 100 >= {int(GOPHER_MIN_ALPHA_WORD_FRAC * 100)}
            * n_words AS INT) AS ok_alpha,
       CAST(n_stop >= {GOPHER_MIN_STOPWORDS} AS INT) AS ok_stop,
       CAST(n_words >= {GOPHER_MIN_WORDS}
            AND n_words <= {GOPHER_MAX_WORDS}
            AND sum_wlen * 10 >= {int(GOPHER_MIN_MEAN_WORD_LEN * 10)} * n_words
            AND sum_wlen * 10 <= {int(GOPHER_MAX_MEAN_WORD_LEN * 10)} * n_words
            AND n_sym * 10 <= n_words
            AND n_alpha_words * 100 >= {int(GOPHER_MIN_ALPHA_WORD_FRAC * 100)}
                * n_words
            AND n_stop >= {GOPHER_MIN_STOPWORDS} AS INT) AS keep
FROM f
"""


def gopher_rule_cols():
    """The Gopher threshold-rule feature set over a frame with a
    `text` column: (n_words, sum_wlen, n_sym, n_alpha_words, n_stop)
    plus the five per-rule flags and the conjunction. Every threshold
    comparison is EXACT integer arithmetic (mean word length 3.0 -> 10
    * sum_wlen >= 30 * n_words, symbol ratio 0.1 -> 10 * n_sym <=
    n_words, alpha fraction 0.8 -> 100 * n_alpha >= 80 * n_words), so
    a knife-edge document cannot flip between engines on a float
    comparison — only the DISPLAYED ratios round."""
    toks = tokens_col(F.col("text"))
    n_words = F.size(toks)
    sum_wlen = F.aggregate(
        F.transform(toks, lambda x: F.length(x)),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    n_sym = F.length("text") - F.length(
        F.regexp_replace("text", r"[^a-zA-Z0-9\s]", "")
    )
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-zA-Z]")))
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*LANG_MARKERS["en"])))
    ok_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    ok_wlen = (
        (sum_wlen * 10 >= int(GOPHER_MIN_MEAN_WORD_LEN * 10) * n_words)
        & (sum_wlen * 10 <= int(GOPHER_MAX_MEAN_WORD_LEN * 10) * n_words)
    )
    ok_sym = n_sym * 10 <= n_words
    ok_alpha = n_alpha * 100 >= int(GOPHER_MIN_ALPHA_WORD_FRAC * 100) * n_words
    ok_stop = n_stop >= GOPHER_MIN_STOPWORDS
    keep = ok_words & ok_wlen & ok_sym & ok_alpha & ok_stop
    return (n_words, sum_wlen, n_sym, n_alpha, n_stop,
            ok_words, ok_wlen, ok_sym, ok_alpha, ok_stop, keep)


@_register("text_gopher_rules", _GOPHER_SQL)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-filter rules (Rae et al. 2021 Appendix A, the
    published threshold half): word-count bounds, mean-word-length
    band, symbol-to-word ratio, alphabetic-word fraction, and the
    minimum-stopword rule, each as an auditable 0/1 flag plus the
    conjunctive keep verdict. Complements text_quality (a weighted
    score) and repetition_filter (the Gopher repetition half): real
    pipelines keep the per-rule flags so filter ablations don't
    recompute the corpus.

    100 TB shape: embarrassingly parallel row-local projection — one
    narrow scan (doc_id, text), no shuffle, no state; whole-stage
    codegen end to end. Registered r12, queued for an r13 rule-2
    window slot (registry.py note).

    Reference parity: none (no text surface) — north-star text-analysis
    family, BASELINE.json."""
    docs = load_table_spread(spark, sf_dir, "documents")
    (n_words, sum_wlen, n_sym, n_alpha, n_stop,
     ok_words, ok_wlen, ok_sym, ok_alpha, ok_stop, keep) = gopher_rule_cols()
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        r4(sum_wlen * 1.0 / n_words).alias("mean_word_len"),
        r4(n_sym * 1.0 / n_words).alias("symbol_ratio"),
        r4(n_alpha * 1.0 / n_words).alias("alpha_word_frac"),
        n_stop.alias("n_stop"),
        ok_words.cast("int").alias("ok_words"),
        ok_wlen.cast("int").alias("ok_wlen"),
        ok_sym.cast("int").alias("ok_sym"),
        ok_alpha.cast("int").alias("ok_alpha"),
        ok_stop.cast("int").alias("ok_stop"),
        keep.cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Per-document character-entropy (Shannon) — the low-entropy
# boilerplate/garbage detector that complements the repetition and
# perplexity filters. H = ln(n) - (sum_c c*ln(c)) / n over per-doc
# character counts; the c*ln(c) terms are quantized to BIGINT 1e-9
# units (the _LP_SCALE discipline) so the per-doc sum is exact under
# any fold order. Characters come from regexp_extract_all(text,
# '[\s\S]') in BOTH engines — the explicit class matches EVERY
# character including line terminators; a bare '.' would diverge
# (Java '.' excludes \r and three unicode separators, RE2 only \n
# — review r12).

_ENTROPY_SQL = f"""
WITH ch AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS c
  FROM documents
),
counts AS (
  SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c
)
SELECT doc_id,
       CAST(sum(k) AS BIGINT) AS n_chars_counted,
       count(*) AS n_distinct_chars,
       floor((ln(CAST(sum(k) AS DOUBLE))
              - CAST(sum(CAST(floor(k * ln(k) * {_LP_SCALE} + 0.5)
                              AS BIGINT)) AS DOUBLE)
                / {_LP_SCALE} / CAST(sum(k) AS DOUBLE))
             * 1e4 + 0.5) / 1e4 AS entropy
FROM counts
GROUP BY doc_id
"""


@_register("text_char_entropy", _ENTROPY_SQL)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the character distribution (in
    nats): near-zero for boilerplate/padding runs, ~ln(alphabet) for
    natural prose — a standard cheap garbage detector alongside the
    Gopher rules. Identity H = ln(n) - (1/n) * sum c*ln(c) avoids
    per-class probabilities, so the only cross-row accumulation is an
    exact integer sum of 1e-9-quantized c*ln(c) terms (fold-order
    independent; headroom: a single character class overflows int64 at
    k*ln(k)*1e9 > 2^63, i.e. ~4.6e8 repeats of ONE character in one
    document — split such degenerate docs upstream or coarsen the
    quantization scale; review r12 corrected the earlier 1e11 claim).

    100 TB shape: explode -> (doc_id, char) hash-agg (bounded by
    alphabet size per doc, heavy map-side combine) -> per-doc hash-agg;
    both aggs share the doc_id-prefixed key so AQE coalesces onto one
    exchange. No window, no join. Registered r12, queued for an r13
    rule-2 window slot (registry.py note).

    Reference parity: none (no text surface) — north-star text-analysis
    family, BASELINE.json."""
    return char_entropy(load_table(spark, sf_dir, "documents"))


def char_entropy(docs: DataFrame) -> DataFrame:
    """Frame-level kernel of text_char_entropy over (doc_id, text) —
    shared with the corpus pipeline's entropy_filter stage."""
    ch = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all("text", F.lit(r"[\s\S]"), 0)
        ).alias("c"),
    )
    counts = ch.groupBy("doc_id", "c").agg(F.count("*").alias("k"))
    termq = F.floor(
        F.col("k") * F.log("k") * float(_LP_SCALE) + 0.5
    ).cast("bigint")
    return counts.groupBy("doc_id").agg(
        F.sum("k").alias("n_chars_counted"),
        F.count("*").alias("n_distinct_chars"),
        (
            F.floor(
                (
                    F.log(F.sum("k").cast("double"))
                    - F.sum(termq).cast("double") / float(_LP_SCALE)
                    / F.sum("k").cast("double")
                ) * 1e4 + 0.5
            ) / 1e4
        ).alias("entropy"),
    )
