"""Text-analysis queries over the documents table (SURVEY.md §7.5).

Language-ID (stopword-vote heuristic), quality scoring, token
counting, document fingerprinting — each with a DuckDB oracle that
replicates the same deterministic formula.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from listenbrainz_server_spark.catalog import load_table
from listenbrainz_server_spark.functions.text import (
    LANG_STOPWORDS,
    QUALITY_SCORE_SQL,
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from listenbrainz_server_spark.queries import register


def _sql_in_list(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


# --------------------------------------------------------------------------
# Token counting per source.
# --------------------------------------------------------------------------
@register(
    "t_token_stats",
    """
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           ROUND(AVG(len(string_split(text, ' '))), 6) AS avg_tokens,
           MAX(len(string_split(text, ' '))) AS max_tokens
    FROM documents
    GROUP BY source
    """,
    doc="token counting (whitespace) aggregated per source",
)
def t_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tc = token_count(F.col("text"))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tc).alias("total_tokens"),
        F.round(F.avg(tc), 6).alias("avg_tokens"),
        F.max(tc).alias("max_tokens"),
    )


# --------------------------------------------------------------------------
# Quality score: length band + stopword ratio − punctuation ratio.
# --------------------------------------------------------------------------
_QUALITY_SQL = f"""
    WITH toks AS (
        SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
    )
    SELECT doc_id,
           {QUALITY_SCORE_SQL} AS quality
    FROM toks
"""


@register("t_quality_score", _QUALITY_SQL, doc="composite quality heuristic per doc")
def t_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))


# --------------------------------------------------------------------------
# Per-domain quality calibration: a single global quality threshold
# over-prunes domains whose score distribution sits lower (code, chat,
# OCR) and under-prunes clean-prose domains. Calibrate by ranking each
# doc WITHIN its source: domain_pctile = percent_rank over (source,
# quality), keep = top 80% of each domain. One window, shuffle keyed by
# source. Scale note: percent_rank needs a per-source sort; at 100 TB
# with mega-domains you'd swap it for a two-pass histogram CDF (bin
# counts → broadcast cumulative bins) — same output contract, no
# per-source total order. The window form is right up to the point a
# single source outgrows a task's sort budget.
# --------------------------------------------------------------------------
@register(
    "t_quality_calibrated",
    f"""
    WITH toks AS (
        SELECT doc_id, source, text, string_split(text, ' ') AS t FROM documents
    ),
    q AS (
        SELECT doc_id, source,
               {QUALITY_SCORE_SQL} AS quality
        FROM toks
    )
    SELECT doc_id, source, quality,
           ROUND(PERCENT_RANK() OVER (PARTITION BY source ORDER BY quality), 6)
               AS domain_pctile,
           (ROUND(PERCENT_RANK() OVER (PARTITION BY source ORDER BY quality), 6)
               >= 0.2) AS keep
    FROM q
    """,
    doc="per-domain quality calibration: percent_rank of the quality "
    "score within each source; keep = top 80% of each domain",
)
def t_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", quality_score(F.col("text")).alias("quality")
    )
    pr = F.round(
        F.percent_rank().over(Window.partitionBy("source").orderBy("quality")), 6
    )
    return scored.select(
        "doc_id",
        "source",
        "quality",
        pr.alias("domain_pctile"),
        (pr >= 0.2).alias("keep"),
    )


# --------------------------------------------------------------------------
# Per-source quality DRIFT monitor (VERDICT r9 #8's suggested
# composition: the w_cusum_drift change-point machinery applied to the
# t_quality_score family). The production question it answers: "did
# source X's ingested quality LEVEL slide?" — a slow per-source decay
# that the global calibration (t_quality_calibrated re-ranks within
# source, so a uniformly-sinking source keeps passing) and pointwise
# outlier checks both miss.
#
# Shape: docs batch per source in ingestion order (doc_id — the
# declared arrival order of the synthetic corpus), B docs per batch;
# per-batch mean quality; one-sided DOWNWARD CUSUM over the batch
# series per source with the batch-0 mean as baseline. The recursion
# unrolls exactly as in w_cusum_drift (running sum minus running min).
# Every quantity cross-engine-exact by construction: per-doc quality
# is 6dp-rounded (gate-proven parity), quantized to integer
# micro-units; batch means / slack / threshold are deterministic
# functions of IDENTICAL integers (FLOOR over one exact-int division),
# so no fold-order or rounding-mode divergence is possible anywhere,
# including the alarm boundary. Scale: the windows run over
# batches-per-source (bounded), never doc volume; the only doc-scale
# stages are the scan and one keyed agg.
# --------------------------------------------------------------------------
_DRIFT_BATCH = 5


@register(
    "t_quality_drift_cusum",
    f"""
    WITH toks AS (
        SELECT doc_id, source, text, string_split(text, ' ') AS t
        FROM documents
    ),
    q AS (
        SELECT doc_id, source, {QUALITY_SCORE_SQL} AS quality FROM toks
    ),
    qq AS (
        SELECT source,
               CAST(ROUND(quality * 1000000) AS BIGINT) AS qu,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
                   AS rn
        FROM q
    ),
    b AS (
        SELECT source, CAST(FLOOR((rn - 1) / {_DRIFT_BATCH}) AS BIGINT)
                   AS batch,
               CAST(COUNT(*) AS BIGINT) AS n_docs, SUM(qu) AS squ
        FROM qq GROUP BY 1, 2
    ),
    m AS (
        SELECT source, batch, n_docs,
               CAST(FLOOR(squ * 1.0 / n_docs) AS BIGINT) AS mean_u
        FROM b
    ),
    base AS (
        SELECT source, mean_u AS mu_u,
               CAST(FLOOR(ABS(mean_u) * 0.05) AS BIGINT) AS k_u,
               CAST(FLOOR(ABS(mean_u) * 0.25) AS BIGINT) AS h_u
        FROM m WHERE batch = 0
    ),
    terms AS (
        SELECT m.source, m.batch, m.n_docs, m.mean_u, w.mu_u, w.h_u,
               w.mu_u - m.mean_u - w.k_u AS term
        FROM m JOIN base w USING (source)
    ),
    runs AS (
        SELECT *, SUM(term) OVER (PARTITION BY source ORDER BY batch
                                  ROWS UNBOUNDED PRECEDING) AS s
        FROM terms
    ),
    sums AS (
        SELECT *, MIN(s) OVER (PARTITION BY source ORDER BY batch
                               ROWS UNBOUNDED PRECEDING) AS mins
        FROM runs
    )
    SELECT source, batch, n_docs,
           CAST(mean_u AS DOUBLE) / 1000000.0 AS mean_quality,
           CAST(s - LEAST(0, mins) AS DOUBLE) / 1000000.0 AS cusum,
           (s - LEAST(0, mins)) > h_u AS alarm
    FROM sums
    ORDER BY source, batch
    """,
    doc="per-source quality drift monitor: ingestion-ordered batches "
    f"of {_DRIFT_BATCH} docs, per-batch mean quality, one-sided "
    "DOWNWARD CUSUM per source (baseline = batch-0 mean, slack "
    "0.05|mu|, alarm at 0.25|mu|) via the w_cusum_drift "
    "running-sum-minus-prefix-min unroll; integer-microunit terms "
    "keep every sum and the alarm boundary cross-engine exact",
)
def t_quality_drift_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id", "source", quality_score(F.col("text")).alias("quality")
    )
    w_rn = Window.partitionBy("source").orderBy("doc_id")
    qq = q.select(
        "source",
        F.round(F.col("quality") * 1000000).cast("bigint").alias("qu"),
        F.row_number().over(w_rn).alias("rn"),
    )
    b = (
        qq.withColumn(
            "batch",
            F.floor((F.col("rn") - 1) / _DRIFT_BATCH).cast("bigint"),
        )
        .groupBy("source", "batch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("qu").alias("squ"),
        )
    )
    m = b.select(
        "source",
        "batch",
        "n_docs",
        F.floor(F.col("squ") * 1.0 / F.col("n_docs"))
        .cast("bigint")
        .alias("mean_u"),
    )
    base = m.where(F.col("batch") == 0).select(
        "source",
        F.col("mean_u").alias("mu_u"),
        F.floor(F.abs("mean_u") * 0.05).cast("bigint").alias("k_u"),
        F.floor(F.abs("mean_u") * 0.25).cast("bigint").alias("h_u"),
    )
    terms = m.join(F.broadcast(base), "source").withColumn(
        "term", F.col("mu_u") - F.col("mean_u") - F.col("k_u")
    )
    w_run = (
        Window.partitionBy("source")
        .orderBy("batch")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = terms.withColumn("s", F.sum("term").over(w_run))
    sums = runs.withColumn("mins", F.min("s").over(w_run))
    c = F.col("s") - F.least(F.lit(0).cast("bigint"), F.col("mins"))
    return sums.select(
        "source",
        "batch",
        "n_docs",
        (F.col("mean_u").cast("double") / 1000000.0).alias("mean_quality"),
        (c.cast("double") / 1000000.0).alias("cusum"),
        (c > F.col("h_u")).alias("alarm"),
    ).orderBy("source", "batch")


# --------------------------------------------------------------------------
# Language ID: stopword-vote argmax, lexicographic first-wins ties,
# 'und' when no stopword hits. Confusion counts vs the labeled lang.
# --------------------------------------------------------------------------
def _langid_sql() -> str:
    codes = sorted(LANG_STOPWORDS)
    hit_cols = ",\n               ".join(
        f"len(list_filter(t, x -> x IN ({_sql_in_list(LANG_STOPWORDS[c])}))) AS h_{c}"
        for c in codes
    )
    mx = f"GREATEST({', '.join(f'h_{c}' for c in codes)})"
    case = " ".join(f"WHEN h_{c} = mx THEN '{c}'" for c in codes)
    return f"""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ),
    hits AS (
        SELECT doc_id, lang,
               {hit_cols}
        FROM toks
    ),
    best AS (
        SELECT doc_id, lang, {mx} AS mx, * FROM hits
    )
    SELECT lang,
           CASE WHEN mx = 0 THEN 'und' {case} END AS lang_pred,
           COUNT(*) AS n
    FROM best
    GROUP BY 1, 2
    """


@register(
    "t_lang_id",
    _langid_sql(),
    doc="n-gram/stopword-vote language ID, confusion counts vs labeled lang",
)
def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", lang_id(F.col("text")).alias("lang_pred")).agg(
        F.count(F.lit(1)).alias("n")
    )


# --------------------------------------------------------------------------
# Deterministic hash sampling (~20% per reproducible md5 coordinate).
# --------------------------------------------------------------------------
@register(
    "x_hash_sample",
    """
    SELECT lang, COUNT(*) AS n_sampled
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '33333333'
    GROUP BY lang
    """,
    doc="reproducible hash sampling (~20%), partition-independent",
)
def x_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.sampling import hash_sample

    docs = load_table(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.2).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled")
    )


# --------------------------------------------------------------------------
# Deterministic train/val/test split (80/10/10) by hash ranges.
# --------------------------------------------------------------------------
@register(
    "x_hash_split",
    """
    WITH coords AS (
        SELECT lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h
        FROM documents
    )
    SELECT lang,
           CASE WHEN h < 'cccccccc' THEN 'train'
                WHEN h < 'e6666666' THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n
    FROM coords
    GROUP BY 1, 2
    """,
    doc="reproducible 80/10/10 train/val/test split by hash ranges",
)
def x_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return hash_split(docs, "doc_id").groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n")
    )


# --------------------------------------------------------------------------
# Token-length histogram (pipeline QA: length distribution buckets).
# --------------------------------------------------------------------------
@register(
    "t_length_histogram",
    """
    SELECT (len(string_split(text, ' ')) // 10) * 10 AS bucket_start,
           COUNT(*) AS n_docs,
           CAST(MIN(len(string_split(text, ' '))) AS BIGINT) AS min_tokens,
           CAST(MAX(len(string_split(text, ' '))) AS BIGINT) AS max_tokens
    FROM documents
    GROUP BY 1
    """,
    doc="token-length histogram (10-token buckets) for corpus QA",
)
def t_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tc = token_count(F.col("text"))
    bucket = (F.floor(tc / 10) * 10).cast("bigint")
    return docs.groupBy(bucket.alias("bucket_start")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(tc).alias("min_tokens"),
        F.max(tc).alias("max_tokens"),
    )


# --------------------------------------------------------------------------
# Fingerprint: md5 of normalized text (rolling-hash analog).
# --------------------------------------------------------------------------
@register(
    "t_fingerprint",
    r"""
    SELECT doc_id,
           md5(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fp
    FROM documents
    """,
    doc="document fingerprint: md5 of normalized text",
)
def t_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


# --------------------------------------------------------------------------
# Gopher-style repetition signals (Rae et al. 2021 §A1.1 quality
# heuristics, re-expressed for a training-data pipeline): per document
# the duplicate-word fraction, most-frequent-word share, most-frequent
# -bigram share, and mean word length, plus a composed pass/fail flag.
# Execution shape: one explode + two hash aggregations keyed by
# (doc_id, gram) then doc_id — fully distributed, no per-doc Python,
# bigrams via a lead() window per doc (single shuffle on doc_id).
# --------------------------------------------------------------------------
@register(
    "t_repetition_signals",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    ex AS (SELECT doc_id, unnest(ws) AS w FROM toks),
    uni AS (SELECT doc_id, w, COUNT(*) AS n FROM ex GROUP BY 1, 2),
    uni_doc AS (
        SELECT doc_id, MAX(n) AS top_n, SUM(n) AS total, COUNT(*) AS n_distinct
        FROM uni GROUP BY doc_id
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ws)),
                      i -> ws[i] || ' ' || ws[i + 1])) AS b
        FROM toks WHERE len(ws) >= 2
    ),
    bi AS (SELECT doc_id, b, COUNT(*) AS n FROM bg GROUP BY 1, 2),
    bi_doc AS (
        SELECT doc_id, MAX(n) AS top_bn, SUM(n) AS btotal FROM bi GROUP BY doc_id
    ),
    lens AS (
        SELECT doc_id,
               ROUND(list_sum(list_transform(ws, w -> len(w))) * 1.0 / len(ws), 6)
                   AS mean_word_len
        FROM toks
    )
    SELECT u.doc_id,
           CAST(u.total AS BIGINT) AS n_tokens,
           ROUND(1.0 - u.n_distinct * 1.0 / u.total, 6) AS dup_word_frac,
           ROUND(u.top_n * 1.0 / u.total, 6) AS top_word_frac,
           ROUND(b.top_bn * 1.0 / b.btotal, 6) AS top_bigram_frac,
           l.mean_word_len,
           (u.total >= 20 AND u.top_n * 1.0 / u.total <= 0.25
                AND b.top_bn * 1.0 / b.btotal <= 0.15) AS quality_pass
    FROM uni_doc u JOIN bi_doc b USING (doc_id) JOIN lens l USING (doc_id)
    """,
    doc="Gopher-style repetition/quality signals per document "
    "(dup-word frac, top word/bigram share, mean word length, pass flag)",
)
def t_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.functions.text import top_word_count

    # Every signal folds into per-row array expressions: the previous
    # formulation paid an explode, two word-level groupBys, a
    # per-document window (bigram lead), and two joins; this one is a
    # single map-only projection (zero exchanges) that whole-stage-
    # codegens straight out of the parquet scan. At 100 TB that is the
    # difference between five shuffles of the exploded corpus and none.
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    ws = F.col("ws")
    total = F.size(ws).cast("bigint")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(ws) - 2),
        lambda i: F.concat_ws(" ", F.get(ws, i), F.get(ws, i + 1)),
    )
    sig = docs.where(F.size(ws) >= 2).select(
        "doc_id",
        total.alias("total"),
        F.size(F.array_distinct(ws)).alias("n_distinct"),
        top_word_count(ws).alias("top_n"),
        top_word_count(bigrams).alias("top_bn"),
        F.round(
            F.aggregate(
                F.transform(ws, F.length), F.lit(0).cast("bigint"), lambda a, x: a + x
            )
            * 1.0
            / F.size(ws),
            6,
        ).alias("mean_word_len"),
    )
    return sig.select(
        "doc_id",
        F.col("total").alias("n_tokens"),
        F.round(1.0 - F.col("n_distinct") * 1.0 / F.col("total"), 6).alias(
            "dup_word_frac"
        ),
        F.round(F.col("top_n") * 1.0 / F.col("total"), 6).alias("top_word_frac"),
        F.round(F.col("top_bn") * 1.0 / (F.col("total") - 1), 6).alias(
            "top_bigram_frac"
        ),
        "mean_word_len",
        (
            (F.col("total") >= 20)
            & (F.col("top_n") * 1.0 / F.col("total") <= 0.25)
            & (F.col("top_bn") * 1.0 / (F.col("total") - 1) <= 0.15)
        ).alias("quality_pass"),
    )


# --------------------------------------------------------------------------
# Sequence packing (concat-and-chunk, per hash shard): every document
# gets a (shard, seq_id) training-sequence slot from a running token
# offset — the distributed form of GPT-style packing (per-shard
# windows; never one global ordering).
# --------------------------------------------------------------------------
@register(
    "t_sequence_pack",
    """
    WITH sized AS (
        SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    offs AS (
        SELECT doc_id, shard, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS start_offset
        FROM sized
    )
    SELECT doc_id, shard,
           CAST(FLOOR(start_offset / 256) AS BIGINT) AS seq_id,
           start_offset, n_tokens,
           (FLOOR((start_offset + n_tokens - 1) / 256) >
                FLOOR(start_offset / 256)) AS straddles
    FROM offs
    """,
    doc="sequence packing: per-shard concat-and-chunk (budget 256 tokens)",
)
def t_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(
        docs, "doc_id", token_count(F.col("text")), budget=256, n_shards=8
    )


# --------------------------------------------------------------------------
# Packed-batch fill histogram: per (shard, seq) window of the packer,
# how full is it and how many docs start in it — the training-batch
# utilization report (concat-and-chunk fills every window to budget
# except each shard's tail, so the histogram surfaces tail waste and
# per-shard imbalance). Window ids are GENERATED per shard from the
# token total (sequence + explode), so full windows with no starting
# doc still count. Output is a handful of decile rows — aggregate-only,
# broadcastable everywhere.
# --------------------------------------------------------------------------
@register(
    "t_pack_length_histogram",
    """
    WITH sized AS (
        SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    offs AS (
        SELECT shard, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS start_offset
        FROM sized
    ),
    seq_docs AS (
        SELECT shard, CAST(FLOOR(start_offset / 256) AS BIGINT) AS seq_id,
               COUNT(*) AS docs_starting
        FROM offs GROUP BY 1, 2
    ),
    shard_tot AS (
        SELECT shard, CAST(SUM(n_tokens) AS BIGINT) AS total
        FROM sized GROUP BY 1
    ),
    seqs AS (
        SELECT shard,
               UNNEST(range(0, CAST(CEIL(total * 1.0 / 256) AS BIGINT))) AS seq_id,
               total
        FROM shard_tot WHERE total > 0
    ),
    seq_fill AS (
        SELECT s.shard, s.seq_id,
               COALESCE(d.docs_starting, 0) AS docs_starting,
               CAST(LEAST(256, s.total - s.seq_id * 256) AS BIGINT) AS used_tokens
        FROM seqs s LEFT JOIN seq_docs d USING (shard, seq_id)
    )
    SELECT CAST(FLOOR(used_tokens * 10.0 / 256) AS BIGINT) AS fill_decile,
           COUNT(*) AS n_seqs,
           CAST(SUM(docs_starting) AS BIGINT) AS n_docs,
           CAST(SUM(used_tokens) AS BIGINT) AS total_tokens
    FROM seq_fill
    GROUP BY 1
    """,
    doc="packed-batch fill histogram: per-window utilization deciles of "
    "the concat-and-chunk packer (budget 256, 8 shards), counting "
    "docless full windows via generated seq ids",
)
def t_pack_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    budget = 256
    packed = pack_sequences(
        docs, "doc_id", token_count(F.col("text")), budget=budget, n_shards=8
    )
    seq_docs = packed.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("docs_starting")
    )
    shard_tot = packed.groupBy("shard").agg(F.sum("n_tokens").alias("total"))
    seqs = (
        shard_tot.where(F.col("total") > 0)
        .select(
            "shard",
            "total",
            F.explode(
                F.sequence(
                    F.lit(0).cast("bigint"),
                    (F.ceil(F.col("total") / budget) - 1).cast("bigint"),
                )
            ).alias("seq_id"),
        )
    )
    seq_fill = seqs.join(seq_docs, ["shard", "seq_id"], "left").select(
        "shard",
        "seq_id",
        F.coalesce(F.col("docs_starting"), F.lit(0)).alias("docs_starting"),
        F.least(
            F.lit(budget).cast("bigint"),
            (F.col("total") - F.col("seq_id") * budget).cast("bigint"),
        ).alias("used_tokens"),
    )
    return seq_fill.groupBy(
        F.floor(F.col("used_tokens") * 10.0 / budget).cast("bigint").alias(
            "fill_decile"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.sum("docs_starting").cast("bigint").alias("n_docs"),
        F.sum("used_tokens").cast("bigint").alias("total_tokens"),
    )


# --------------------------------------------------------------------------
# Stratified source-mix sampling: per-source hash fractions (keep all
# of 'wiki', downsample the rest) — deterministic sampleBy.
# --------------------------------------------------------------------------
_STRATA = {"src0": 1.0, "src1": 0.25, "src2": 0.5}
_DEFAULT_FRAC = 0.1


def _strata_sql() -> str:
    cases = " ".join(
        f"WHEN source = '{s}' THEN '{format(min(int(f * 16**8), 16**8 - 1), '08x')}'"
        for s, f in sorted(_STRATA.items())
    )
    default = format(min(int(_DEFAULT_FRAC * 16**8), 16**8 - 1), "08x")
    return f"""
    SELECT doc_id, source
    FROM documents
    WHERE substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 8) <
          (CASE {cases} ELSE '{default}' END)
    """


@register(
    "t_stratified_sample",
    _strata_sql(),
    doc="stratified hash sampling: per-source keep fractions "
    "(deterministic sampleBy for source-mix rebalancing)",
)
def t_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.sampling import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_hash_sample(
        docs, "doc_id", "source", _STRATA, default_fraction=_DEFAULT_FRAC
    )


# --------------------------------------------------------------------------
# BPE-ish token counting: subword-style tokens (greedy 8-char chunks,
# digit runs, punctuation) next to whitespace tokens — the expansion
# factor a training-cost estimate needs before the real tokenizer
# runs.
# --------------------------------------------------------------------------
@register(
    "t_bpe_token_stats",
    r"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(LOWER(text),
                '[a-z]{1,8}|[0-9]{1,8}|[^a-z0-9\s]'))) AS BIGINT) AS bpe_tokens,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           ROUND(SUM(len(regexp_extract_all(LOWER(text),
                '[a-z]{1,8}|[0-9]{1,8}|[^a-z0-9\s]'))) * 1.0 /
                 SUM(len(string_split(text, ' '))), 6) AS expansion
    FROM documents
    GROUP BY source
    """,
    doc="BPE-ish subword token counts per source + expansion factor "
    "vs whitespace tokens",
)
def t_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.functions.text import bpe_ish_token_count

    docs = load_table(spark, sf_dir, "documents")
    bc = bpe_ish_token_count(F.col("text"))
    wc = token_count(F.col("text"))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(bc).alias("bpe_tokens"),
        F.sum(wc).alias("ws_tokens"),
        F.round(F.sum(bc) * 1.0 / F.sum(wc), 6).alias("expansion"),
    )


# --------------------------------------------------------------------------
# Weighted Bernoulli sampling: longer documents kept with
# proportionally higher probability (importance-weighted mix
# building), integer-exact hash thresholds.
# --------------------------------------------------------------------------
@register(
    "t_weighted_sample",
    """
    SELECT doc_id, n_chars
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT <
          CAST(LEAST(n_chars * 0.001 * 4294967296.0, 4294967296.0) AS DECIMAL(20,0))
    """,
    doc="weighted Bernoulli sample: P(keep) = n_chars x 0.001 "
    "(importance-weighted mixing, integer-exact thresholds)",
)
def t_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.sampling import weighted_hash_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_hash_sample(
        docs, "doc_id", "n_chars", rate_per_unit=0.001, max_weight=1000.0
    )


# --------------------------------------------------------------------------
# Corpus-unigram language-model scoring: every document's average token
# log10-probability under the corpus's own unigram distribution — the
# cheap KenLM-style quality signal training pipelines gate on (docs far
# below corpus-typical logprob are boilerplate/gibberish candidates).
#
# Execution shape: one explode + one groupBy builds the unigram table
# (vocab-sized, ≪ corpus); the grand total rides a 1-row broadcast
# cross join (the J15 pattern); tokens join the unigram table on the
# token key — at 100 TB the vocab (after a min-frequency cut) is
# broadcastable, so the only big shuffle is the per-doc re-aggregate.
# --------------------------------------------------------------------------
@register(
    "t_unigram_logprob",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    toks2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
    uni AS (SELECT tok, COUNT(*) AS cnt FROM toks2 GROUP BY tok),
    tot AS (SELECT SUM(cnt) AS total FROM uni)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(LOG10(cnt * 1.0 / total)), 6) AS avg_logprob
    FROM toks2 JOIN uni USING (tok), tot
    GROUP BY doc_id
    """,
    doc="corpus-unigram LM: per-doc average token log10-probability "
    "(KenLM-style quality gate, self-trained on the corpus)",
)
def t_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).where(F.col("tok") != "")
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = uni.agg(F.sum("cnt").alias("total"))
    scored = (
        toks.join(uni, "tok")
        .join(F.broadcast(total))
        .withColumn("lp", F.log10(F.col("cnt") * F.lit(1.0) / F.col("total")))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )


# --------------------------------------------------------------------------
# Domain-mix sampling weights: per-source token shares and the
# per-document sampling weight that reweights the corpus toward a
# UNIFORM source mix (weight ∝ target_share / actual_share) — the
# training-data mixing step (e.g. The Pile / Dolma domain weighting).
# Pure aggregates + a 1-row broadcast; nothing scales with corpus size
# except the first groupBy.
# --------------------------------------------------------------------------
@register(
    "t_domain_mix",
    """
    WITH per AS (
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_tokens) AS total, COUNT(*) AS n_sources FROM per)
    SELECT source, n_docs, n_tokens,
           ROUND(n_tokens * 1.0 / total, 6) AS token_share,
           ROUND((1.0 / n_sources) / (n_tokens * 1.0 / total), 6) AS uniform_weight
    FROM per, tot
    """,
    doc="per-source token shares + sampling weights for a uniform "
    "domain mix (training-data mixing step)",
)
def t_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tc = F.size(F.split(F.col("text"), " "))
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tc).alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("total"), F.count(F.lit(1)).alias("n_sources")
    )
    share = F.col("n_tokens") * F.lit(1.0) / F.col("total")
    return (
        per.join(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(share, 6).alias("token_share"),
            F.round((F.lit(1.0) / F.col("n_sources")) / share, 6).alias(
                "uniform_weight"
            ),
        )
    )


# --------------------------------------------------------------------------
# Top-k frequent bigrams per source: corpus statistics for quality
# inspection / boilerplate discovery (the "most common n-grams"
# report every corpus-cleaning pipeline starts from). Bigrams are
# built with a pure array expression (no shuffle until the count),
# counted per (source, bigram), and ranked per source — the W1 top-k
# pattern over exploded text.
# --------------------------------------------------------------------------
@register(
    "t_top_ngrams",
    """
    WITH toks AS (
        SELECT source, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT source,
               unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS bigram
        FROM toks
    ),
    counts AS (
        SELECT source, bigram, COUNT(*) AS n
        FROM grams WHERE bigram IS NOT NULL GROUP BY 1, 2
    )
    SELECT * FROM (
        SELECT source, bigram, n,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY n DESC, bigram) AS BIGINT) AS rank
        FROM counts
    ) WHERE rank <= 5
    """,
    doc="top-5 frequent bigrams per source (corpus-statistics / "
    "boilerplate-discovery report)",
)
def t_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.topk import top_k_per_group

    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select(
            "source",
            F.explode(
                F.expr(
                    "transform(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),"
                    " (x, i) -> concat(x, ' ', split(text, ' ')[i + 1]))"
                )
            ).alias("bigram"),
        )
        .where(F.col("bigram").isNotNull())
    )
    counts = grams.groupBy("source", "bigram").agg(F.count(F.lit(1)).alias("n"))
    return top_k_per_group(
        counts,
        partition_by=["source"],
        order_by=[F.col("n").desc(), F.col("bigram")],
        k=5,
        rank_col="rank",
    ).select("source", "bigram", "n", F.col("rank").cast("bigint").alias("rank"))


# --------------------------------------------------------------------------
# Global boilerplate n-gram detection (C4/CCNet-style): a word 5-gram
# present in >= 3 DISTINCT documents is boilerplate (headers, footers,
# templated spans); per-doc output reports what fraction of the doc's
# distinct 5-grams are boilerplate. Plan: distinct per-doc gram index,
# gram-keyed document-frequency agg, gram-keyed membership join, doc
# re-agg — every exchange keyed (gram or doc), never all-pairs, so the
# shape survives 100 TB; the hot-gram side stays a value count, not a
# row multiplication.
# --------------------------------------------------------------------------
@register(
    "t_boilerplate_ngrams",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(range(1, len(ws) - 3),
                      i -> array_to_string(ws[i:i+4], ' '))) AS gram
        FROM toks WHERE len(ws) >= 5
    ),
    df AS (SELECT gram, COUNT(*) AS gram_df FROM g GROUP BY 1),
    marked AS (
        SELECT g.doc_id, (df.gram_df >= 3) AS is_boiler
        FROM g JOIN df USING (gram)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (is_boiler) AS BIGINT) AS boiler_grams,
           ROUND(COUNT(*) FILTER (is_boiler) * 1.0 / COUNT(*), 6) AS boiler_frac,
           (COUNT(*) FILTER (is_boiler) * 1.0 / COUNT(*) >= 0.2)
               AS boilerplate_heavy
    FROM marked
    GROUP BY doc_id
    """,
    doc="global boilerplate 5-gram detection: per-doc fraction of "
    "distinct word 5-grams shared by >= 3 documents (C4-style "
    "templated-span signal)",
)
def t_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    grams = (
        docs.where(F.size("ws") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 4),
                    lambda i: F.array_join(F.slice("ws", i, 5), " "),
                )
            ).alias("gram"),
        )
        .distinct()
    )
    df = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("gram_df"))
    marked = grams.join(df, "gram").select(
        "doc_id", (F.col("gram_df") >= 3).alias("is_boiler")
    )
    hits = F.sum(F.col("is_boiler").cast("bigint"))
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        hits.alias("boiler_grams"),
        F.round(hits * 1.0 / F.count(F.lit(1)), 6).alias("boiler_frac"),
        (hits * 1.0 / F.count(F.lit(1)) >= 0.2).alias("boilerplate_heavy"),
    )


# --------------------------------------------------------------------------
# Vocabulary coverage CDF — tokenizer-design analytics: global word
# frequencies, frequency rank, corpus share, cumulative coverage, and
# a head-vocab flag (the words a 90%-coverage vocabulary would keep).
# Plan: one word-keyed agg over the exploded corpus (map-side
# combine), then rank/cumsum windows over the AGGREGATED vocabulary —
# the window's single partition is safe because its input is the
# data-reduced vocab (~1e5 rows even at 100 TB), never the corpus; the
# grand total rides a broadcast (J15 pattern). Top 200 rows out.
# --------------------------------------------------------------------------
@register(
    "t_vocab_coverage",
    """
    WITH counts AS (
        SELECT w, COUNT(*) AS n
        FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w
    ),
    tot AS (SELECT SUM(n) AS total FROM counts),
    ranked AS (
        SELECT w, n,
               CAST(ROW_NUMBER() OVER (ORDER BY n DESC, w) AS BIGINT) AS rank,
               ROUND(n * 1.0 / t.total, 6) AS share,
               ROUND(SUM(n) OVER (ORDER BY n DESC, w
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     * 1.0 / t.total, 6) AS cum_share
        FROM counts, tot t
    )
    SELECT w, n, rank, share, cum_share, (cum_share <= 0.9) AS in_head90
    FROM ranked
    WHERE rank <= 200
    """,
    doc="vocabulary coverage CDF: global word frequency rank, corpus "
    "share, cumulative coverage, 90%-coverage head-vocab flag (top 200)",
)
def t_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("total"))
    w_rank = Window.orderBy(F.col("n").desc(), "w")
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .withColumn("share", F.round(F.col("n") * 1.0 / F.col("total"), 6))
        .withColumn(
            "cum_share",
            F.round(F.sum("n").over(w_cum) * 1.0 / F.col("total"), 6),
        )
    )
    return ranked.where(F.col("rank") <= 200).select(
        "w", "n", "rank", "share", "cum_share",
        (F.col("cum_share") <= 0.9).alias("in_head90"),
    )


# --------------------------------------------------------------------------
# Histogram-CDF quality calibration — the mega-domain scale path that
# t_quality_calibrated's comment promises: the same per-domain
# percentile contract WITHOUT a per-source sort of documents. Scores
# land in fixed 0.05-wide bins (70 bins over [-1.0, 2.5]); per-
# (source, bin) counts reduce the corpus to <= sources × 70 rows; the
# cumulative-below window runs over THAT dim table; documents then
# pick up their percentile through a broadcast (source, bin) join.
# Exchange profile: one keyed agg + one tiny dim window — no source
# ever needs a total order of its documents, so a single mega-domain
# can't outgrow a task's sort budget.
# --------------------------------------------------------------------------
@register(
    "t_quality_calibrated_hist",
    f"""
    WITH toks AS (
        SELECT doc_id, source, text, string_split(text, ' ') AS t FROM documents
    ),
    q AS (
        SELECT doc_id, source, {QUALITY_SCORE_SQL} AS quality FROM toks
    ),
    binned AS (
        SELECT doc_id, source, quality,
               CAST(LEAST(69, GREATEST(0,
                    FLOOR((quality + 1.0) / 0.05))) AS INT) AS bin
        FROM q
    ),
    bc AS (
        SELECT source, bin, COUNT(*) AS n FROM binned GROUP BY 1, 2
    ),
    cum AS (
        SELECT source, bin,
               COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below,
               SUM(n) OVER (PARTITION BY source) AS tot
        FROM bc
    )
    SELECT b.doc_id, b.source, b.quality, b.bin,
           ROUND(c.below * 1.0 / c.tot, 6) AS hist_pctile,
           (c.below * 1.0 / c.tot >= 0.2) AS keep
    FROM binned b JOIN cum c USING (source, bin)
    """,
    doc="histogram-CDF per-domain quality percentile: fixed 0.05 bins, "
    "per-(source,bin) counts + dim-table cumsum + broadcast join back "
    "— the mega-domain path with no per-source document sort",
)
def t_quality_calibrated_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    binned = docs.select(
        "doc_id",
        "source",
        quality_score(F.col("text")).alias("quality"),
    ).withColumn(
        "bin",
        F.least(
            F.lit(69),
            F.greatest(F.lit(0), F.floor((F.col("quality") + 1.0) / 0.05)),
        ).cast("int"),
    )
    bc = binned.groupBy("source", "bin").agg(F.count(F.lit(1)).alias("n"))
    w_below = (
        Window.partitionBy("source")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy("source")
    cum = bc.select(
        "source",
        "bin",
        F.coalesce(F.sum("n").over(w_below), F.lit(0)).alias("below"),
        F.sum("n").over(w_tot).alias("tot"),
    )
    pct = F.col("below") * 1.0 / F.col("tot")
    return binned.join(F.broadcast(cum), ["source", "bin"]).select(
        "doc_id",
        "source",
        "quality",
        "bin",
        F.round(pct, 6).alias("hist_pctile"),
        (pct >= 0.2).alias("keep"),
    )


# --------------------------------------------------------------------------
# Interpolated bigram LM — the stronger form of the unigram gate
# (CCNet's KenLM filter shape, self-trained on the corpus): per-doc
# average log10 of 0.75·P(w2|w1) + 0.25·P(w2). Plan: the bigram and
# context tables are corpus-reduced aggregates joined back on their
# keys (bigram instances never meet anything unkeyed); the token
# grand total rides a broadcast. The bigram table can be large — it
# stays a shuffled equi join by design, it must never be broadcast.
# --------------------------------------------------------------------------
@register(
    "t_bigram_logprob",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    inst AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(ws)),
                      i -> {'w1': ws[i], 'w2': ws[i+1]})) AS b
        FROM toks WHERE len(ws) >= 2
    ),
    bi AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM inst),
    uni AS (
        SELECT tok, COUNT(*) AS ucnt
        FROM (SELECT UNNEST(ws) AS tok FROM toks) GROUP BY tok
    ),
    tot AS (SELECT SUM(ucnt) AS total FROM uni),
    bcnt AS (SELECT w1, w2, COUNT(*) AS bn FROM bi GROUP BY 1, 2),
    ctx AS (SELECT w1, SUM(bn) AS cn FROM bcnt GROUP BY 1)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(LOG10(
               0.75 * (b2.bn * 1.0 / c.cn)
               + 0.25 * (u.ucnt * 1.0 / t.total))), 6) AS avg_logprob
    FROM bi
    JOIN bcnt b2 USING (w1, w2)
    JOIN ctx c USING (w1)
    JOIN uni u ON u.tok = bi.w2, tot t
    GROUP BY doc_id
    """,
    doc="interpolated corpus-bigram LM: per-doc average "
    "log10(0.75*P(w2|w1) + 0.25*P(w2)) quality gate",
)
def t_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    ws = F.col("ws")
    inst = docs.where(F.size(ws) >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(ws) - 2),
                lambda i: F.struct(
                    F.get(ws, i).alias("w1"), F.get(ws, i + 1).alias("w2")
                ),
            )
        ).alias("b"),
    )
    bi = inst.select("doc_id", "b.w1", "b.w2")
    uni = (
        docs.select(F.explode(ws).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("ucnt"))
    )
    tot = uni.agg(F.sum("ucnt").alias("total"))
    bcnt = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bn"))
    ctx = bcnt.groupBy("w1").agg(F.sum("bn").alias("cn"))
    p = (
        0.75 * (F.col("bn") * 1.0 / F.col("cn"))
        + 0.25 * (F.col("ucnt") * 1.0 / F.col("total"))
    )
    scored = (
        bi.join(bcnt, ["w1", "w2"])
        .join(ctx, "w1")
        .join(uni.withColumnRenamed("tok", "w2"), "w2")
        .join(F.broadcast(tot))
        .withColumn("lp", F.log10(p))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )


# --------------------------------------------------------------------------
# Language-ID evaluation — precision/recall/F1 per language against
# the labeled column: the artifact that decides whether the classifier
# is good enough to gate a corpus. Two corpus-reduced aggregates
# (per-pred and per-label totals) joined on the language key; the
# confusion counts are the same computation t_lang_id registers.
# --------------------------------------------------------------------------
@register(
    "t_langid_prf",
    f"""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ),
    hits AS (
        SELECT doc_id, lang,
               {",".join(f"len(list_filter(t, x -> x IN ({_sql_in_list(LANG_STOPWORDS[c])}))) AS h_{c}" for c in sorted(LANG_STOPWORDS))}
        FROM toks
    ),
    best AS (
        SELECT lang,
               CASE WHEN GREATEST({", ".join(f"h_{c}" for c in sorted(LANG_STOPWORDS))}) = 0
                    THEN 'und'
                    {" ".join(f"WHEN h_{c} = GREATEST({', '.join(f'h_{d}' for d in sorted(LANG_STOPWORDS))}) THEN '{c}'" for c in sorted(LANG_STOPWORDS))}
               END AS pred
        FROM hits
    ),
    tp AS (
        SELECT lang, COUNT(*) FILTER (pred = lang) AS tp,
               COUNT(*) AS n_label
        FROM best GROUP BY lang
    ),
    pp AS (SELECT pred, COUNT(*) AS n_pred FROM best GROUP BY pred)
    SELECT t.lang,
           CAST(t.tp AS BIGINT) AS tp,
           CAST(t.n_label AS BIGINT) AS n_label,
           CAST(COALESCE(p.n_pred, 0) AS BIGINT) AS n_pred,
           ROUND(t.tp * 1.0 / GREATEST(COALESCE(p.n_pred, 0), 1), 6) AS precision,
           ROUND(t.tp * 1.0 / t.n_label, 6) AS recall,
           ROUND(2.0 * t.tp / GREATEST(COALESCE(p.n_pred, 0) + t.n_label, 1), 6)
               AS f1
    FROM tp t LEFT JOIN pp p ON p.pred = t.lang
    """,
    doc="language-ID evaluation: per-language precision/recall/F1 of "
    "the stopword-vote classifier against the labeled column",
)
def t_langid_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    best = docs.select("lang", lang_id(F.col("text")).alias("pred"))
    tp = best.groupBy("lang").agg(
        F.sum((F.col("pred") == F.col("lang")).cast("bigint")).alias("tp"),
        F.count(F.lit(1)).alias("n_label"),
    )
    pp = best.groupBy("pred").agg(F.count(F.lit(1)).alias("n_pred"))
    j = tp.join(pp, tp.lang == pp.pred, "left").select(
        "lang",
        "tp",
        "n_label",
        F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
    )
    return j.select(
        "lang",
        "tp",
        "n_label",
        "n_pred",
        F.round(
            F.col("tp") * 1.0 / F.greatest(F.col("n_pred"), F.lit(1)), 6
        ).alias("precision"),
        F.round(F.col("tp") * 1.0 / F.col("n_label"), 6).alias("recall"),
        F.round(
            2.0 * F.col("tp") / F.greatest(F.col("n_pred") + F.col("n_label"), F.lit(1)),
            6,
        ).alias("f1"),
    )


# --------------------------------------------------------------------------
# Distribution-drift detection (histogram-KS): compare the doc-length
# distribution of the "incoming" half of the corpus (odd doc ids — a
# stand-in for a new crawl batch) against the "reference" half via a
# two-sample Kolmogorov–Smirnov statistic computed on 32 fixed-width
# histogram bins. The corpus reduces to 32 bin rows per side before
# any CDF math — the same no-global-sort discipline as the percentile
# machinery; at 100 TB the KS statistic costs one keyed agg.
# --------------------------------------------------------------------------
@register(
    "x_length_drift_ks",
    """
    WITH binned AS (
        SELECT (doc_id % 2 = 1) AS incoming,
               CAST(LEAST(31, n_chars // 64) AS INT) AS bin
        FROM documents
    ),
    bc AS (
        SELECT incoming, bin, COUNT(*) AS n FROM binned GROUP BY 1, 2
    ),
    grid AS (
        SELECT i.incoming, b.bin
        FROM (SELECT DISTINCT incoming FROM bc) i,
             (SELECT UNNEST(range(0, 32)) AS bin) b
    ),
    cdf AS (
        SELECT g.incoming, g.bin,
               SUM(COALESCE(c.n, 0)) OVER (
                   PARTITION BY g.incoming ORDER BY g.bin) * 1.0
               / SUM(COALESCE(c.n, 0)) OVER (PARTITION BY g.incoming) AS p
        FROM grid g LEFT JOIN bc c ON c.incoming = g.incoming AND c.bin = g.bin
    )
    SELECT a.bin,
           ROUND(a.p, 6) AS cdf_reference,
           ROUND(b.p, 6) AS cdf_incoming,
           ROUND(ABS(a.p - b.p), 6) AS cdf_gap,
           ROUND(MAX(ABS(a.p - b.p)) OVER (), 6) AS ks_stat
    FROM cdf a JOIN cdf b ON a.bin = b.bin
    WHERE a.incoming = FALSE AND b.incoming = TRUE
    """,
    doc="distribution-drift detection: two-sample histogram-KS over "
    "doc-length bins (reference vs incoming half), per-bin CDF gap + "
    "the KS statistic",
)
def x_length_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    binned = docs.select(
        (F.col("doc_id") % 2 == 1).alias("incoming"),
        F.least(F.lit(31), (F.col("n_chars") / 64).cast("int")).cast("int").alias(
            "bin"
        ),
    )
    bc = binned.groupBy("incoming", "bin").agg(F.count(F.lit(1)).alias("n"))
    sides = bc.select("incoming").distinct()
    grid = sides.crossJoin(
        F.broadcast(
            docs.sparkSession.range(32).select(F.col("id").cast("int").alias("bin"))
        )
    )
    full = grid.join(bc, ["incoming", "bin"], "left").select(
        "incoming", "bin", F.coalesce("n", F.lit(0)).alias("n")
    )
    w_cum = Window.partitionBy("incoming").orderBy("bin")
    w_tot = Window.partitionBy("incoming")
    cdf = full.select(
        "incoming",
        "bin",
        (F.sum("n").over(w_cum) * 1.0 / F.sum("n").over(w_tot)).alias("p"),
    )
    ref = cdf.where(~F.col("incoming")).select("bin", F.col("p").alias("pa"))
    inc = cdf.where(F.col("incoming")).select("bin", F.col("p").alias("pb"))
    gaps = ref.join(inc, "bin")
    w_all = Window.partitionBy()
    return gaps.select(
        "bin",
        F.round("pa", 6).alias("cdf_reference"),
        F.round("pb", 6).alias("cdf_incoming"),
        F.round(F.abs(F.col("pa") - F.col("pb")), 6).alias("cdf_gap"),
        F.round(F.max(F.abs(F.col("pa") - F.col("pb"))).over(w_all), 6).alias(
            "ks_stat"
        ),
    )


# --------------------------------------------------------------------------
# BPE merge candidates — one iteration of byte-pair-encoding training
# as a distributed op: adjacent character-pair frequencies weighted by
# word frequency, ranked. The scale trick is WHERE the work happens:
# pairs explode from the corpus-reduced word-frequency table (vocab ×
# word length rows), never from the corpus itself — the corpus is
# touched once by the word count agg. Full BPE training iterates this
# with a driver loop (like ALS — registry would record it rows-only);
# the single registered iteration is exactly SQL-expressible.
# --------------------------------------------------------------------------
@register(
    "t_bpe_merge_candidates",
    """
    WITH wf AS MATERIALIZED (
        SELECT w, COUNT(*) AS n
        FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY w
    ),
    pairs AS (
        SELECT UNNEST(list_transform(range(1, length(w)),
                      i -> substr(w, i, 2))) AS pair,
               n
        FROM wf WHERE length(w) >= 2
    ),
    pc AS (SELECT pair, CAST(SUM(n) AS BIGINT) AS pair_count FROM pairs GROUP BY pair)
    SELECT pair, pair_count,
           CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS BIGINT)
               AS rank
    FROM pc
    ORDER BY rank
    LIMIT 20
    """,
    doc="BPE training step: top-20 adjacent character-pair frequencies "
    "weighted by word frequency (pairs explode from the vocab, not "
    "the corpus)",
)
def t_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = wf.where(F.length("w") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "n",
    )
    pc = pairs.groupBy("pair").agg(F.sum("n").alias("pair_count"))
    w_rank = Window.orderBy(F.col("pair_count").desc(), "pair")
    return (
        pc.withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .where(F.col("rank") <= 20)
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# Full iterative BPE training. Each iteration is a vocab-sized keyed
# agg + a LIMIT-1 driver decision + a pure-expression merge fold; the
# corpus is touched exactly once by the word-frequency agg.
#
# VALUE oracle (VERDICT r9 #7 — was a first-merge + contract audit):
# the full 8-merge greedy sequence IS SQL-expressible because the
# merge count is a fixed constant — _bpe_train_oracle_sql unrolls 8
# (pairs -> argmax -> apply) stages as chained CTEs. Merge application
# uses a double-separator symbol encoding: a word's symbol sequence is
# '<SS>s1<SS>s2<SS>' (S = chr(31), never in corpus text); the literal
# pattern 'S<l>SS<r>S' -> 'S<lr>S' can only match whole adjacent
# symbols (a single S inside the pattern must align with a boundary
# run, and the flanking Ss pin l/r to full-symbol extents — suffix/
# prefix false matches are impossible), and because replace() resumes
# AFTER the matched region while the pattern leaves the right
# boundary's second S unconsumed, consecutive-overlap semantics are
# exactly BPE's left-to-right non-overlapping fold ('aaa' -> [aa, a],
# 'a a a a' -> [aa, aa] — pinned against the Spark fold in
# tests/test_operators.py::test_bpe_oracle_encoding_cases). The greedy
# sequence is additionally pinned by an independent pure-Python oracle
# (test_t_bpe_train_matches_pure_python_oracle, VERDICT r5 #8).
# --------------------------------------------------------------------------
_BPE_SEP = chr(31)


def _bpe_train_oracle_sql(n_merges: int = 8) -> str:
    """Unrolled n-merge greedy BPE as a single DuckDB query. Early
    stop (max pair count < 2) matches bpe_train: a stage whose argmax
    is empty leaves the symbol table unchanged (the COALESCE no-op
    pattern 'SSS' never occurs — separator runs are always length 2),
    so every later stage is empty too and the union just has fewer
    rows. Every CTE is MATERIALIZED: st{k} and pc{k} reference their
    predecessor twice, and DuckDB's default CTE inlining makes the
    8-stage chain exponential (measured: >400 s inlined, 0.08 s
    materialized at sf0.01)."""
    s = _BPE_SEP
    parts = [
        f"""
    wf AS MATERIALIZED (
        SELECT w, COUNT(*) AS n
        FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY w
    ),
    st0 AS MATERIALIZED (
        SELECT '{s}{s}' || regexp_replace(w, '(?s)(.)', '\\1{s}{s}', 'g')
                   AS syms,
               n
        FROM wf
    )"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f"""
    pc{k} AS MATERIALIZED (
        SELECT p.l AS l, p.r AS r, CAST(SUM(n) AS BIGINT) AS c
        FROM (
            SELECT UNNEST(list_transform(range(1, len(y)),
                          i -> {{'l': y[i], 'r': y[i + 1]}})) AS p,
                   n
            FROM (SELECT list_filter(string_split(syms, '{s}'),
                                     x -> x <> '') AS y,
                         n
                  FROM st{k - 1})
            WHERE len(y) >= 2
        ) GROUP BY 1, 2
    ),
    top{k} AS MATERIALIZED (SELECT l, r, c FROM pc{k}
               WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1),
    st{k} AS MATERIALIZED (
        SELECT replace(
                   syms,
                   COALESCE((SELECT '{s}' || l || '{s}{s}' || r || '{s}'
                             FROM top{k}), '{s}{s}{s}'),
                   COALESCE((SELECT '{s}' || l || r || '{s}'
                             FROM top{k}), '')
               ) AS syms,
               n
        FROM st{k - 1}
    )"""
        )
    rows = "\n        UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS rank, l AS lsym, r AS rsym, "
        f"l || r AS merged, c AS pair_count FROM top{k}"
        for k in range(1, n_merges + 1)
    )
    return (
        "WITH" + ",".join(parts) + f"""
    SELECT * FROM (
        {rows}
    ) ORDER BY rank
    """
    )


@register(
    "t_bpe_train",
    _bpe_train_oracle_sql(8),
    doc="iterative BPE training: 8 greedy merges over the corpus "
    "word-frequency table (driver-looped argmax; (count desc, left, "
    "right) tie-breaks; left-to-right non-overlapping merge fold). "
    "Registered output is the full merge table (rank, lsym, rsym, "
    "merged, pair_count) and the oracle independently replays ALL 8 "
    "greedy rounds in SQL via the unrolled double-separator-encoding "
    "stages (_bpe_train_oracle_sql) — a value oracle, not a contract "
    "audit. Also pinned by the pure-Python corpus oracle "
    "(test_t_bpe_train_matches_pure_python_oracle)",
)
def t_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_train_corpus_raw(spark, sf_dir).select(
        "rank",
        F.col("left").alias("lsym"),
        F.col("right").alias("rsym"),
        "merged",
        "pair_count",
    )


def bpe_train_corpus(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """The 8-merge greedy sequence over the corpus word-frequency
    table — [(rank, left, right, merged, pair_count), ...]."""
    from listenbrainz_server_spark.operators.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return bpe_train(wf, "w", "n", n_merges=8)


def bpe_train_corpus_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving form: the merge table as a DataFrame."""
    return spark.createDataFrame(
        bpe_train_corpus(spark, sf_dir),
        "rank bigint, left string, right string, merged string, pair_count bigint",
    )


# --------------------------------------------------------------------------
# Source novelty — data-valuation report: how much genuinely NEW
# content each source contributes. A word 3-gram's "owner" is the
# lowest doc_id containing it (deterministic arrival order); a
# source's novel grams are those first seen in one of its docs.
# novelty_rate = novel / distinct grams touched. Plan: distinct
# per-doc gram index, gram-keyed min-owner agg, join back on gram —
# all exchanges gram- or source-keyed; this is the marginal-utility
# curve that decides which crawl to buy more of.
# --------------------------------------------------------------------------
@register(
    "t_source_novelty",
    """
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id, source,
               UNNEST(list_transform(range(1, len(ws) - 1),
                      i -> array_to_string(ws[i:i+2], ' '))) AS gram
        FROM toks WHERE len(ws) >= 3
    ),
    owner AS (SELECT gram, MIN(doc_id) AS owner_doc FROM g GROUP BY gram)
    SELECT g.source,
           CAST(COUNT(DISTINCT g.gram) AS BIGINT) AS grams_touched,
           CAST(COUNT(DISTINCT CASE WHEN g.doc_id = o.owner_doc
                                    THEN g.gram END) AS BIGINT) AS novel_grams,
           ROUND(COUNT(DISTINCT CASE WHEN g.doc_id = o.owner_doc
                                     THEN g.gram END) * 1.0
                 / COUNT(DISTINCT g.gram), 6) AS novelty_rate
    FROM g JOIN owner o USING (gram)
    GROUP BY g.source
    """,
    doc="source novelty report: per-source distinct 3-grams touched vs "
    "first-seen (marginal-contribution data valuation)",
)
def t_source_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("ws")
    )
    g = (
        docs.where(F.size("ws") >= 3)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 2),
                    lambda i: F.array_join(F.slice("ws", i, 3), " "),
                )
            ).alias("gram"),
        )
        .distinct()
    )
    owner = g.groupBy("gram").agg(F.min("doc_id").alias("owner_doc"))
    joined = g.join(owner, "gram")
    novel_gram = F.when(F.col("doc_id") == F.col("owner_doc"), F.col("gram"))
    return joined.groupBy("source").agg(
        F.count_distinct("gram").alias("grams_touched"),
        F.count_distinct(novel_gram).alias("novel_grams"),
        F.round(
            F.count_distinct(novel_gram) * 1.0 / F.count_distinct("gram"), 6
        ).alias("novelty_rate"),
    )


# --------------------------------------------------------------------------
# RAG-style document chunking: fixed-size overlapping windows over the
# token stream — the retrieval-index prep step (chunk size 16 tokens,
# overlap 4 → stride 12; the tail chunk may be short but every token
# is covered, and start positions past n - overlap that would yield
# fully-contained fragments are not generated). Pure JVM: sequence()
# generates start offsets, posexplode-free (chunk_id derives from the
# start offset, so no ordinality bookkeeping), slice() cuts the
# window — a map-only explode with no shuffle at any scale.
# --------------------------------------------------------------------------
@register(
    "t_chunk_documents",
    """
    WITH toksq AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    starts AS (
        SELECT doc_id, ws,
               unnest(generate_series(1, GREATEST(len(ws) - 4, 1), 12)) AS s
        FROM toksq
    )
    SELECT doc_id,
           CAST((s - 1) // 12 AS INT) AS chunk_id,
           CAST(LEAST(16, len(ws) - s + 1) AS BIGINT) AS chunk_tokens,
           array_to_string(ws[s:s+15], ' ') AS chunk_text
    FROM starts
    """,
    doc="RAG chunking: overlapping fixed-size token windows "
    "(size 16, overlap 4), map-only explode",
)
def t_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    size, overlap = 16, 4
    stride = size - overlap
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.split("text", " ").alias("ws"),
    ).withColumn("n", F.size("ws"))
    starts = d.select(
        "doc_id",
        "ws",
        "n",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.col("n") - overlap, F.lit(1)),
                F.lit(stride),
            )
        ).alias("s"),
    )
    return starts.select(
        "doc_id",
        ((F.col("s") - 1) / stride).cast("int").alias("chunk_id"),
        F.least(F.lit(size), F.col("n") - F.col("s") + 1)
        .cast("bigint")
        .alias("chunk_tokens"),
        F.concat_ws(" ", F.slice("ws", F.col("s"), F.lit(size))).alias("chunk_text"),
    )


# --------------------------------------------------------------------------
# Dataset card: the per-source summary a corpus release ships with —
# volume (docs, tokens), quality (mean composite score), language mix
# (modal language + share), and exact-dup health (normalized
# fingerprint distinct-rate). One groupBy(source) over per-doc
# map-only columns plus a (source, lang) count with a tiny window on
# the REDUCED table — at 100 TB the heavy exchange is the single
# source-keyed aggregate; the language ranking runs over
# |sources|×|langs| rows, not documents.
# --------------------------------------------------------------------------
@register(
    "x_dataset_card",
    f"""
    WITH toks AS (
        SELECT doc_id, source, lang, text, string_split(text, ' ') AS t
        FROM documents
    ),
    base AS (
        SELECT doc_id, source, lang,
               CAST(len(t) AS BIGINT) AS n_tokens,
               {QUALITY_SCORE_SQL} AS quality,
               md5(regexp_replace(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS fp
        FROM toks
    ),
    per_source AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               ROUND(AVG(quality), 4) AS avg_quality,
               COUNT(DISTINCT fp) AS n_unique
        FROM base GROUP BY source
    ),
    lang_counts AS (
        SELECT source, lang, COUNT(*) AS n FROM base GROUP BY source, lang
    ),
    top_lang AS (
        SELECT source, lang, n,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n DESC, lang ASC) AS rn
        FROM lang_counts
    )
    SELECT p.source,
           CAST(p.n_docs AS BIGINT) AS n_docs,
           p.total_tokens,
           p.avg_quality,
           l.lang AS top_lang,
           ROUND(l.n * 1.0 / p.n_docs, 6) AS top_lang_share,
           CAST(p.n_docs - p.n_unique AS BIGINT) AS n_exact_dups,
           ROUND((p.n_docs - p.n_unique) * 1.0 / p.n_docs, 6) AS dup_rate
    FROM per_source p JOIN top_lang l ON l.source = p.source AND l.rn = 1
    """,
    doc="per-source dataset card: volume, mean quality, modal language "
    "share, exact-dup rate (one doc-level exchange, keyed by source)",
)
def x_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "lang",
        token_count(F.col("text")).alias("n_tokens"),
        quality_score(F.col("text")).alias("quality"),
        F.md5(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        ).alias("fp"),
    )
    per_source = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
        F.count_distinct("fp").alias("n_unique"),
    )
    lang_counts = base.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), F.col("lang").asc())
    top_lang = (
        lang_counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"), "n")
    )
    return per_source.join(F.broadcast(top_lang), "source").select(
        "source",
        "n_docs",
        "total_tokens",
        "avg_quality",
        "top_lang",
        F.round(F.col("n") * 1.0 / F.col("n_docs"), 6).alias("top_lang_share"),
        (F.col("n_docs") - F.col("n_unique")).alias("n_exact_dups"),
        F.round(
            (F.col("n_docs") - F.col("n_unique")) * 1.0 / F.col("n_docs"), 6
        ).alias("dup_rate"),
    )


# --------------------------------------------------------------------------
# PMI co-occurrence pairs — pointwise mutual information over a
# forward window of 2 tokens (the word2vec/GloVe-style co-occurrence
# statistic that seeds embedding training and collocation mining).
# Positions come from posexplode; window pairs are TWO EQUI-JOINS on
# (doc_id, position + d) for d ∈ {1, 2} — not a range join, so the
# pair generation shuffles on exact keys and never widens beyond
# 2×|tokens| rows. Totals ride broadcast 1-row cross joins; the
# top-50 is TakeOrderedAndProject (no global sort). min-count ≥ 5
# keeps the PMI estimate out of the noise floor.
# --------------------------------------------------------------------------
@register(
    "t_pmi_cooccurrence",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    pos AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS i, t FROM toks),
    words AS (SELECT doc_id, i, t[i] AS w FROM pos),
    pairs_raw AS (
        SELECT a.w AS w1, b.w AS w2
        FROM words a JOIN words b
          ON a.doc_id = b.doc_id AND (b.i = a.i + 1 OR b.i = a.i + 2)
    ),
    pc AS (SELECT w1, w2, COUNT(*) AS n FROM pairs_raw GROUP BY 1, 2),
    wc AS (SELECT w, COUNT(*) AS n FROM words GROUP BY 1),
    tots AS (SELECT (SELECT SUM(n) FROM pc) AS np, (SELECT SUM(n) FROM wc) AS nw)
    SELECT pc.w1, pc.w2, CAST(pc.n AS BIGINT) AS n,
           ROUND(LN((pc.n * 1.0 / tots.np)
                    / ((c1.n * 1.0 / tots.nw) * (c2.n * 1.0 / tots.nw))), 4)
               AS pmi
    FROM pc
    CROSS JOIN tots
    JOIN wc c1 ON c1.w = pc.w1
    JOIN wc c2 ON c2.w = pc.w2
    WHERE pc.n >= 5
    ORDER BY pmi DESC, pc.w1, pc.w2
    LIMIT 50
    """,
    doc="top-50 PMI token-pair collocations (forward window 2, "
    "min count 5) — embedding-training co-occurrence statistics",
)
def t_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select("doc_id", F.split("text", " ").alias("t"))
        .select("doc_id", F.posexplode("t").alias("p", "w"))
        .select("doc_id", (F.col("p") + 1).alias("i"), "w")
    )
    a = words.select("doc_id", F.col("i").alias("ia"), F.col("w").alias("w1"))
    parts = []
    for d in (1, 2):
        b = words.select(
            "doc_id", (F.col("i") - d).alias("ia"), F.col("w").alias("w2")
        )
        parts.append(a.join(b, ["doc_id", "ia"]).select("w1", "w2"))
    pairs = parts[0].unionByName(parts[1])
    pc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("wn"))
    np_tot = pc.agg(F.sum("n").alias("np"))
    nw_tot = wc.agg(F.sum("wn").alias("nw"))
    scored = (
        pc.where(F.col("n") >= 5)
        .join(F.broadcast(np_tot))
        .join(F.broadcast(nw_tot))
        .join(wc.withColumnRenamed("w", "w1").withColumnRenamed("wn", "n1"), "w1")
        .join(wc.withColumnRenamed("w", "w2").withColumnRenamed("wn", "n2"), "w2")
        .select(
            "w1",
            "w2",
            F.col("n").cast("bigint").alias("n"),
            F.round(
                F.log(
                    (F.col("n") * 1.0 / F.col("np"))
                    / ((F.col("n1") * 1.0 / F.col("nw")) * (F.col("n2") * 1.0 / F.col("nw")))
                ),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(50)


# --------------------------------------------------------------------------
# Per-document top TF-IDF terms — the classic retrieval feature
# extraction (and the cheap keyword-summary a dataset card links per
# doc). TF from one doc-keyed unigram aggregate; DF over the DISTINCT
# (doc, word) projection; IDF folds the corpus size in as a broadcast
# scalar; per-doc top-3 by a doc-keyed window. All exchanges are
# keyed by doc or word — the vocab-sized DF table is the only
# broadcast. smooth idf = ln((1+N)/(1+df)) + 1 keeps zero divisions
# out at any scale.
# --------------------------------------------------------------------------
def _tfidf_top10(spark: SparkSession, sf_dir: str):
    """Shared build for the tf-idf pair tier: each doc's top-10 bigram
    terms with integer-quantized weights + the term's corpus df, pinned
    once, and the per-doc squared norm. Returns ``(top10, ssq)``."""
    from pyspark.sql import Window

    from listenbrainz_server_spark.functions.text import shingles

    docs = load_table(spark, sf_dir, "documents")
    # Doc-keyed explicit repartition: parallelize the bigram explode
    # by document, not input-file split (operators/dedup.py:55 rule).
    words = docs.repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    ).select("doc_id", F.explode(shingles(F.col("text"), 2)).alias("w"))
    tf = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    # tf is one row per (doc, term), so DF is a plain count over it —
    # no second explode, no count_distinct shuffle.
    df_t = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_t, "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "w",
            "df",
            F.round(
                F.col("tf")
                * (F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("w"))
    )
    top10 = (
        scored.withColumn("rn", rn)
        .where(F.col("rn") <= 10)
        .select(
            "doc_id",
            "w",
            "df",
            F.round(F.col("tfidf") * 1000000).cast("bigint").alias("ti"),
        )
        # Pin: feeds ssq + both join sides; without it each consumer
        # re-runs the bigram explode, two aggregates, and the window.
        # 10 rows/doc — tiny relative to the lineage it cuts.
        .localCheckpoint(eager=True)
    )
    ssq = top10.groupBy("doc_id").agg(F.sum(F.col("ti") * F.col("ti")).alias("s"))
    return top10, ssq


@register(
    "t_tfidf_cosine_pairs",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    words AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(t)),
                      i -> array_to_string(t[i:i+1], ' '))) AS w
        FROM toks
    ),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY 1, 2),
    df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.w,
               ROUND(tf.tf * (LN((1.0 + n.n_docs) / (1.0 + df.df)) + 1.0), 6)
                   AS tfidf
        FROM tf JOIN df ON df.w = tf.w CROSS JOIN n
    ),
    top10 AS (
        SELECT doc_id, w,
               CAST(ROUND(tfidf * 1000000) AS BIGINT) AS ti
        FROM (SELECT doc_id, w, tfidf,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY tfidf DESC, w ASC) AS rn
              FROM scored)
        WHERE rn <= 10
    ),
    ssq AS (SELECT doc_id, SUM(ti * ti) AS s FROM top10 GROUP BY doc_id),
    dots AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.ti * b.ti) AS dp
        FROM top10 a JOIN top10 b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(dp / (sqrt(sa.s) * sqrt(sb.s)), 6) AS sim
    FROM dots
    JOIN ssq sa ON sa.doc_id = id_a
    JOIN ssq sb ON sb.doc_id = id_b
    WHERE dp / (sqrt(sa.s) * sqrt(sb.s)) >= 0.5
    """,
    doc="EXACT ALL-PAIRS BASELINE — FIXTURE SCALE ONLY (measured 67x "
    "wall at 10x data, SCALING.md: Sigma_t posting^2 grows ~x104 on "
    "a fixed vocab; use t_tfidf_cosine_pairs_capped at scale): "
    "sparse TF-IDF cosine pairs over word BIGRAMS, each doc's top-10 "
    "tfidf bigrams, integer-quantized weights (order-free exact "
    "dot), term-keyed join, cosine >= 0.5 — the IR-side near-dup "
    "tier needing no embeddings",
)
def t_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the candidate join is keyed by TERM over each
    doc's top-10 tfidf terms — the pruning that bounds pair fan-out.
    Terms are word BIGRAMS, not unigrams: the join's cost is
    sum_t(n_t^2) over per-term posting lengths, and a small-vocab
    corpus (this fixture: ~50 distinct words) makes every doc's top
    UNIGRAMS collide into the same posting lists (measured: 31 s at
    sf0.1, ~5e7 candidate pairs); the squared vocab pushes posting
    lengths down two orders for the same lexical-similarity contract.
    Weights are quantized to integers BEFORE any cross-row sum so
    every aggregate is order-free bigint arithmetic; the only floats
    are one sqrt and one division over exact integers — deterministic
    in any engine.

    Superlinearity finding (r8 sf1 scaling smoke, SCALING.md): on the
    densified 10× fixture the term-join candidate volume grows
    6.8M → 711M (×104, quadratic in posting density) and wall time
    ×53 — partial aggregation halves the per-candidate cost but the
    enumeration is the floor for an EXACT all-pairs join. A Bayardo
    (WWW'07) prefix filter was implemented and MEASURED ineffective
    here — 0.08% pruning, because ~equal-weight 10-term vectors put
    every term above the (t/2)² suffix budget — and reverted. On
    natural corpora vocabulary grows with the corpus (Heaps' law), so
    posting density — and this cost — stays near-linear; for corpora
    that are genuinely this dense, the bounded-posting variant below
    (``t_tfidf_cosine_pairs_capped``) restricts candidate generation
    to discriminative terms and is the designed linear-cost path.
    """
    top10, ssq = _tfidf_top10(spark, sf_dir)
    a = top10.select(F.col("doc_id").alias("id_a"), "w", F.col("ti").alias("ta"))
    b = top10.select(F.col("doc_id").alias("id_b"), "w", F.col("ti").alias("tb"))
    dots = (
        a.join(b, "w")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("ta") * F.col("tb")).alias("dp"))
    )
    sa = ssq.select(F.col("doc_id").alias("id_a"), F.col("s").alias("s_a"))
    sb = ssq.select(F.col("doc_id").alias("id_b"), F.col("s").alias("s_b"))
    sim = F.col("dp") / (F.sqrt("s_a") * F.sqrt("s_b"))
    return (
        dots.join(sa, "id_a")
        .join(sb, "id_b")
        .where(sim >= 0.5)
        .select("id_a", "id_b", F.round(sim, 6).alias("sim"))
    )


# --------------------------------------------------------------------------
# Bounded-posting tf-idf pairs (r8, the SCALING.md fix task for
# t_tfidf_cosine_pairs' superlinear candidate volume): candidate
# generation runs only over DISCRIMINATIVE terms (corpus df ≤ 100 —
# the stop-bigram cut; a bounded posting list caps the per-term join
# at cap² rows, so candidate volume is O(cap · Σ postings) = LINEAR
# in the corpus where the exact query's Σ posting² is quadratic).
# Candidates are then scored EXACTLY on the full top-10 vectors —
# each doc's terms packed into a map, one row per candidate pair, dp
# via an order-free integer map-lookup aggregate — so every emitted
# pair carries the same sim the exact query would give it; what the
# cap changes is the CONTRACT: only pairs sharing a discriminative
# term are reported (a pair similar purely through stop-bigrams is
# boilerplate, not near-duplication — the d_hot_shingles argument at
# the scoring tier). Oracle mirrors the cap verbatim.
# --------------------------------------------------------------------------
_TFIDF_DF_CAP = 100


@register(
    "t_tfidf_cosine_pairs_capped",
    f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    words AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(t)),
                      i -> array_to_string(t[i:i+1], ' '))) AS w
        FROM toks
    ),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY 1, 2),
    df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.w, df.df,
               ROUND(tf.tf * (LN((1.0 + n.n_docs) / (1.0 + df.df)) + 1.0), 6)
                   AS tfidf
        FROM tf JOIN df ON df.w = tf.w CROSS JOIN n
    ),
    top10 AS (
        SELECT doc_id, w, df,
               CAST(ROUND(tfidf * 1000000) AS BIGINT) AS ti
        FROM (SELECT doc_id, w, df, tfidf,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY tfidf DESC, w ASC) AS rn
              FROM scored)
        WHERE rn <= 10
    ),
    ssq AS (SELECT doc_id, SUM(ti * ti) AS s FROM top10 GROUP BY doc_id),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM top10 a JOIN top10 b ON a.w = b.w AND a.doc_id < b.doc_id
        WHERE a.df <= {_TFIDF_DF_CAP} AND b.df <= {_TFIDF_DF_CAP}
    ),
    dots AS (
        SELECT c.id_a, c.id_b, SUM(a.ti * b.ti) AS dp
        FROM cand c
        JOIN top10 a ON a.doc_id = c.id_a
        JOIN top10 b ON b.doc_id = c.id_b AND b.w = a.w
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(dp / (sqrt(sa.s) * sqrt(sb.s)), 6) AS sim
    FROM dots
    JOIN ssq sa ON sa.doc_id = id_a
    JOIN ssq sb ON sb.doc_id = id_b
    WHERE dp / (sqrt(sa.s) * sqrt(sb.s)) >= 0.5
    """,
    doc=f"bounded-posting tf-idf cosine pairs: candidates only from "
    f"discriminative terms (df <= {_TFIDF_DF_CAP}), scored exactly on "
    "the full top-10 vectors (map-packed, order-free integer dot) — "
    "the linear-candidate-volume path for stop-term-dense corpora",
)
def t_tfidf_cosine_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    top10, ssq = _tfidf_top10(spark, sf_dir)
    idx = top10.where(F.col("df") <= _TFIDF_DF_CAP)
    cand = (
        idx.select(F.col("doc_id").alias("id_a"), "w")
        .join(idx.select(F.col("doc_id").alias("id_b"), "w"), "w")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = top10.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("w", "ti"))).alias("m")
    )
    dp = F.aggregate(
        F.map_entries("ma"),
        F.lit(0).cast("bigint"),
        lambda acc, e: acc
        + e["value"] * F.coalesce(F.element_at("mb", e["key"]), F.lit(0)),
    )
    pairs = (
        cand.join(vecs.select(F.col("doc_id").alias("id_a"), F.col("m").alias("ma")), "id_a")
        .join(vecs.select(F.col("doc_id").alias("id_b"), F.col("m").alias("mb")), "id_b")
        .select("id_a", "id_b", dp.alias("dp"))
    )
    sa = ssq.select(F.col("doc_id").alias("id_a"), F.col("s").alias("s_a"))
    sb = ssq.select(F.col("doc_id").alias("id_b"), F.col("s").alias("s_b"))
    sim = F.col("dp") / (F.sqrt("s_a") * F.sqrt("s_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .where(sim >= 0.5)
        .select("id_a", "id_b", F.round(sim, 6).alias("sim"))
    )


@register(
    "t_tfidf_topterms",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    words AS (SELECT doc_id, unnest(t) AS w FROM toks),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY 1, 2),
    df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.w,
               ROUND(tf.tf * (LN((1.0 + n.n_docs) / (1.0 + df.df)) + 1.0), 6)
                   AS tfidf
        FROM tf JOIN df ON df.w = tf.w CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, w, tfidf,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, w ASC) AS rn
        FROM scored
    )
    SELECT doc_id, w AS term, tfidf, CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= 3
    """,
    doc="top-3 TF-IDF terms per document (smooth idf; doc/word-keyed "
    "exchanges only)",
)
def t_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    tf = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df_t = words.groupBy("w").agg(F.count_distinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_t, "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "w",
            F.round(
                F.col("tf")
                * (F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("w").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .where(F.col("rank") <= 3)
        .select("doc_id", F.col("w").alias("term"), "tfidf", "rank")
    )


# --------------------------------------------------------------------------
# Zipf-law fit of the corpus vocabulary — log-log regression of term
# frequency on rank. The one-number health check for synthetic or
# over-filtered corpora: natural language sits near slope -1; a
# near-flat slope says the corpus is template/noise-dominated and
# dedup/quality thresholds need revisiting. Uses the built-in
# regression aggregates (regr_slope/intercept/r2 — identical
# definitions in both engines) over the DATA-REDUCED vocab table, so
# the rank window never touches document-scale rows.
# --------------------------------------------------------------------------
@register(
    "t_zipf_fit",
    """
    WITH words AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    freqs AS (SELECT w, COUNT(*) AS f FROM words GROUP BY w),
    ranked AS (
        SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, w ASC) AS r FROM freqs
    ),
    top AS (SELECT * FROM ranked WHERE r <= 1000)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
           ROUND(regr_slope(LN(f), LN(r)), 4) AS zipf_slope,
           ROUND(regr_intercept(LN(f), LN(r)), 4) AS zipf_intercept,
           ROUND(regr_r2(LN(f), LN(r)), 4) AS r2
    FROM top
    """,
    doc="log-log Zipf fit of term frequency vs rank over the top-1000 "
    "vocab (regression aggregates on the reduced table)",
)
def t_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    freqs = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    ranked = freqs.withColumn(
        "r", F.row_number().over(Window.orderBy(F.col("f").desc(), F.col("w").asc()))
    ).where(F.col("r") <= 1000)
    lf, lr = F.log(F.col("f")), F.log(F.col("r"))
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.round(F.regr_slope(lf, lr), 4).alias("zipf_slope"),
        F.round(F.regr_intercept(lf, lr), 4).alias("zipf_intercept"),
        F.round(F.regr_r2(lf, lr), 4).alias("r2"),
    )


# --------------------------------------------------------------------------
# Character-entropy gibberish signal — Shannon entropy of each doc's
# character distribution, the cheap detector for base64 blobs /
# minified code (entropy too high) and key-mashing repetition
# (entropy too low) that text-quality gates run alongside the
# word-level heuristics (t_quality_score). Shape: one char explode
# (linear in corpus bytes, map-side), one (doc, char) reduction, one
# doc-keyed entropy fold — no windows, no Python. Per-char
# probabilities are ROUNDED before the entropy sum so both engines'
# summation order can't move the hash.
# --------------------------------------------------------------------------
@register(
    "t_char_entropy",
    """
    WITH chars AS (
        SELECT doc_id, UNNEST(string_split(text, '')) AS ch FROM documents
    ),
    counts AS (
        SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2
    ),
    probs AS (
        SELECT doc_id, ROUND(c * 1.0 / SUM(c) OVER (PARTITION BY doc_id), 6)
                   AS p
        FROM counts
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
           ROUND(SUM(-p * log2(p)), 6) AS char_entropy_bits
    FROM probs GROUP BY doc_id
    """,
    doc="per-doc character-distribution Shannon entropy (bits) + "
    "distinct-char count — the gibberish/minified-blob gate signal",
)
def t_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    probs = counts.select(
        "doc_id",
        F.round(
            F.col("c") * 1.0 / F.sum("c").over(Window.partitionBy("doc_id")), 6
        ).alias("p"),
    )
    return probs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_chars"),
        F.round(F.sum(-F.col("p") * F.log2("p")), 6).alias("char_entropy_bits"),
    )


# --------------------------------------------------------------------------
# Pairwise source vocabulary overlap — the data-card matrix that says
# which sources are lexically redundant (candidates for dedup across
# sources) and which add genuinely new vocabulary. Per-source DISTINCT
# vocab (corpus reduced to |sources|×|vocab| rows), word-keyed
# self-join for intersections (each word contributes at most
# |sources|² pairs — bounded by the source count, never the corpus),
# inclusion-exclusion for the union. Jaccard rounded 6 dp.
# --------------------------------------------------------------------------
@register(
    "t_vocab_overlap_sources",
    """
    WITH vocab AS (
        SELECT DISTINCT source, UNNEST(string_split(text, ' ')) AS w
        FROM documents
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM vocab GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS both
        FROM vocab a JOIN vocab b ON a.w = b.w AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b,
           CAST(i.both AS BIGINT) AS shared_words,
           CAST(sa.n + sb.n - i.both AS BIGINT) AS union_words,
           ROUND(i.both * 1.0 / (sa.n + sb.n - i.both), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    """,
    doc="pairwise source vocabulary Jaccard (lexical-redundancy "
    "matrix for the dataset card)",
)
def t_vocab_overlap_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    vocab = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).distinct()
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = vocab.select(F.col("source").alias("src_a"), "w")
    b = vocab.select(F.col("source").alias("src_b"), "w")
    inter = (
        a.join(b, "w")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("both"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("both").cast("bigint").alias("shared_words"),
            (F.col("na") + F.col("nb") - F.col("both"))
            .cast("bigint")
            .alias("union_words"),
            F.round(
                F.col("both") * 1.0 / (F.col("na") + F.col("nb") - F.col("both")),
                6,
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# t_heaps_law_fit (r8): vocabulary-growth exponent — Heaps' law
# V(N) ≈ K·N^beta, the companion diagnostic to t_zipf_fit (a corpus
# whose vocabulary saturates, beta → 0, is template/boilerplate-bound;
# natural text sits around beta 0.4-0.6; beta near 1 flags id-like
# token noise). Scale shape: ONE first-seen reduction (min doc_id per
# word — the a_user_growth pattern: no cumulative distinct scan, the
# groupBy is the only wide exchange), checkpoints = cumulative token
# and NEW-vocab counts at 10 doc-id deciles (window over the 10-row
# decile frame), then a closed-form log-log OLS over the checkpoints
# (regr_slope — same idiom as t_zipf_fit). 4dp rounding absorbs the
# float tails.
# --------------------------------------------------------------------------
@register(
    "t_heaps_law_fit",
    """
    WITH toks AS (
        SELECT doc_id, NTILE(10) OVER (ORDER BY doc_id) AS dec,
               string_split(text, ' ') AS ws
        FROM documents
    ),
    inst AS (
        SELECT dec, UNNEST(ws) AS w FROM toks
    ),
    first_seen AS (
        SELECT w, MIN(dec) AS fdec FROM inst GROUP BY w
    ),
    per_dec AS (
        SELECT i.dec,
               COUNT(*) AS toks_in_dec,
               (SELECT COUNT(*) FROM first_seen f WHERE f.fdec = i.dec)
                   AS new_vocab
        FROM inst i GROUP BY i.dec
    ),
    cum AS (
        SELECT dec,
               SUM(toks_in_dec) OVER (ORDER BY dec) AS n_tokens,
               SUM(new_vocab) OVER (ORDER BY dec) AS vocab
        FROM per_dec
    )
    SELECT ROUND(regr_slope(LN(vocab), LN(n_tokens)), 4) AS heaps_beta,
           ROUND(EXP(regr_intercept(LN(vocab), LN(n_tokens))), 4) AS heaps_k,
           ROUND(regr_r2(LN(vocab), LN(n_tokens)), 4) AS r2,
           CAST(MAX(vocab) AS BIGINT) AS total_vocab,
           CAST(MAX(n_tokens) AS BIGINT) AS total_tokens
    FROM cum
    """,
    doc="Heaps'-law vocabulary-growth fit V=K*N^beta over 10 doc-id "
    "decile checkpoints: one first-seen reduction (min decile per "
    "word), cumulative sums over the 10-row decile frame, closed-form "
    "log-log OLS; beta->0 flags template-bound corpora, ~0.5 natural "
    "text, ->1 id-like token noise",
)
def t_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    toks = docs.withColumn(
        "dec", F.ntile(10).over(Window.orderBy("doc_id"))
    )
    inst = toks.select("dec", F.explode("ws").alias("w"))
    first_seen = inst.groupBy("w").agg(F.min("dec").alias("fdec"))
    new_vocab = first_seen.groupBy(F.col("fdec").alias("dec")).agg(
        F.count(F.lit(1)).alias("new_vocab")
    )
    per_dec = (
        inst.groupBy("dec")
        .agg(F.count(F.lit(1)).alias("toks_in_dec"))
        .join(new_vocab, "dec", "left")
        .na.fill(0, ["new_vocab"])
    )
    w_cum = Window.orderBy("dec").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_dec.select(
        "dec",
        F.sum("toks_in_dec").over(w_cum).alias("n_tokens"),
        F.sum("new_vocab").over(w_cum).alias("vocab"),
    )
    lv, ln_ = F.log("vocab"), F.log("n_tokens")
    return cum.agg(
        F.round(F.regr_slope(lv, ln_), 4).alias("heaps_beta"),
        F.round(F.exp(F.regr_intercept(lv, ln_)), 4).alias("heaps_k"),
        F.round(F.regr_r2(lv, ln_), 4).alias("r2"),
        F.max("vocab").cast("bigint").alias("total_vocab"),
        F.max("n_tokens").cast("bigint").alias("total_tokens"),
    )


# --------------------------------------------------------------------------
# t_pack_ffd (r9): first-fit-decreasing WHOLE-document bin packing —
# the no-straddle sibling of t_sequence_pack for pipelines that
# refuse cross-document attention (each budget-token bin pads its
# tail; oversize docs are flagged for the chunker instead of split).
# FFD is inherently sequential, so it runs per hash shard in one
# Arrow pass (operators/packing.ffd_pack; shard count scales with the
# cluster). The REGISTERED form is a full VALUE oracle (r11 — the
# t_bpe_train pattern generalized to unbounded iteration counts): the
# oracle REPLAYS the entire first-fit-decreasing algorithm in SQL via
# a recursive CTE whose state row carries the open-bin loads as a
# LIST — one iteration per document, first fitting bin found with a
# list comprehension + list_position, the load bumped with an indexed
# list_transform lambda. n_bins per shard is therefore an exactly
# recomputed value, alongside the doc/oversize/token counts; the
# packing invariants (no bin over budget, >= ceil(tokens/budget)
# bins, at most one bin half-or-less full) stay as booleans. DuckDB
# trap recorded: list_position returns 0 — not NULL — when no element
# matches, so the new-bin branch must test both. The per-doc bin
# assignment itself is additionally pinned against a pure-Python FFD
# in tests/test_operators.py.
# --------------------------------------------------------------------------
@register(
    "t_pack_ffd",
    """
    WITH RECURSIVE sized AS (
        SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    eligible AS (
        SELECT shard,
               list(n_tokens ORDER BY n_tokens DESC, doc_id ASC) AS toks
        FROM sized WHERE n_tokens <= 256 GROUP BY shard
    ),
    ffd AS (
        SELECT shard, toks, 1 AS i, CAST([] AS BIGINT[]) AS loads
        FROM eligible
        UNION ALL
        SELECT shard, toks, i + 1,
               CASE WHEN pos IS NULL OR pos = 0
                    THEN list_append(loads, t)
                    ELSE list_transform(
                        loads,
                        (x, j) -> CASE WHEN j = pos THEN x + t ELSE x END)
               END AS loads
        FROM (
            SELECT shard, toks, i, loads, toks[i] AS t,
                   list_position(
                       [x + toks[i] <= 256 for x in loads], true) AS pos
            FROM ffd WHERE i <= len(toks)
        ) s
    ),
    packed AS (
        SELECT shard, len(loads) AS n_bins
        FROM ffd WHERE i = len(toks) + 1
    )
    SELECT c.shard,
           c.n_docs,
           c.n_oversize,
           c.total_tokens,
           CAST(COALESCE(p.n_bins, 0) AS BIGINT) AS n_bins,
           TRUE AS no_overflow,
           TRUE AS lb_ok,
           TRUE AS half_full_ok
    FROM (
        SELECT shard,
               CAST(COUNT_IF(n_tokens <= 256) AS BIGINT) AS n_docs,
               CAST(COUNT_IF(n_tokens > 256) AS BIGINT) AS n_oversize,
               CAST(COALESCE(SUM(CASE WHEN n_tokens <= 256
                                      THEN n_tokens END), 0) AS BIGINT)
                   AS total_tokens
        FROM sized
        GROUP BY shard
    ) c
    LEFT JOIN packed p ON p.shard = c.shard
    ORDER BY c.shard
    """,
    doc="first-fit-decreasing whole-doc bin packing (budget 256, "
    "per-shard Arrow pass): audit form -- per-shard doc/oversize/"
    "token counts + EXACT n_bins (the oracle replays the full FFD "
    "in SQL: recursive CTE, bin loads as list state, one iteration "
    "per doc) + packing invariants (no bin over budget, bins >= "
    "token lower bound, at most one bin <= half full); per-doc "
    "assignment pinned vs a pure-Python FFD",
)
def t_pack_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.packing import ffd_pack

    budget = 256
    docs = load_table(spark, sf_dir, "documents")
    packed = ffd_pack(
        docs, "doc_id", token_count(F.col("text")), budget=budget, n_shards=8
    )
    bins = (
        packed.where(F.col("bin_id") >= 0)
        .groupBy("shard", "bin_id")
        .agg(F.sum("n_tokens").alias("fill"))
    )
    bin_audit = bins.groupBy("shard").agg(
        F.every(F.col("fill") <= budget).alias("no_overflow"),
        F.count(F.lit(1)).alias("n_bins"),
        F.count_if(F.col("fill") <= budget / 2).alias("n_half"),
    )
    return (
        packed.groupBy("shard")
        .agg(
            F.count_if(F.col("bin_id") >= 0).cast("bigint").alias("n_docs"),
            F.count_if(F.col("bin_id") < 0).cast("bigint").alias("n_oversize"),
            F.coalesce(
                F.sum(F.when(F.col("bin_id") >= 0, F.col("n_tokens"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("total_tokens"),
        )
        .join(F.broadcast(bin_audit), "shard", "left")
        .select(
            "shard",
            "n_docs",
            "n_oversize",
            "total_tokens",
            # Exact bin count — the oracle recomputes it by replaying
            # FFD in a recursive CTE (r11 value-oracle upgrade).
            F.coalesce("n_bins", F.lit(0)).cast("bigint").alias("n_bins"),
            # left join + defaults: a shard whose docs are ALL
            # oversize has no bins at all — vacuously compliant, and
            # the oracle still emits its row.
            F.coalesce("no_overflow", F.lit(True)).alias("no_overflow"),
            (
                F.coalesce("n_bins", F.lit(0))
                >= F.ceil(F.col("total_tokens") / budget)
            ).alias("lb_ok"),
            (F.coalesce("n_half", F.lit(0)) <= 1).alias("half_full_ok"),
        )
        .orderBy("shard")
    )
