"""Training-data curation queries over the documents table: what goes
into a training mix, in what proportion and order, and how it is
sampled and split.

- token budgets: `x_token_budget_pareto`, `x_source_token_budget`;
- mixes and weights: `x_quality_weighted_mix`, `x_interleave_domains`,
  `x_dsir_weights`, `x_source_entropy`;
- ordering: `x_curriculum_order`, `x_epoch_manifest` (composes
  `x_interleave_domains` with `x_curriculum_order`),
  `x_epoch_shuffle_quality`;
- sampling and splits: `x_stratified_sample`, `x_reservoir_sample`,
  `x_split_leakage`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from listenbrainz_server_spark.catalog import load_table
from listenbrainz_server_spark.functions.text import QUALITY_SCORE_SQL, quality_score
from listenbrainz_server_spark.queries import register


# --------------------------------------------------------------------------
# Token-budget Pareto curve — the mix-governance decision chart: rank
# documents by the quality heuristic (best first, doc_id tiebreak),
# bucket into 5% tranches, and report each tranche's token mass and
# the cumulative token share — i.e. "spending X% of the token budget
# on the best docs buys this much of the corpus' quality mass". The
# global order runs over the doc-level reduction (id, quality,
# tokens), never raw text.
# --------------------------------------------------------------------------
@register(
    "x_token_budget_pareto",
    f"""
    WITH toks AS (
        SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
    ),
    d AS (
        SELECT doc_id,
               len(t) AS tokens,
               {QUALITY_SCORE_SQL} AS q
        FROM toks
    ),
    ranked AS (
        SELECT doc_id, tokens, q,
               NTILE(20) OVER (ORDER BY q DESC, doc_id) AS tranche
        FROM d
    ),
    per AS (
        SELECT tranche, COUNT(*) AS n_docs,
               CAST(SUM(tokens) AS BIGINT) AS tranche_tokens,
               ROUND(AVG(q), 6) AS avg_quality
        FROM ranked GROUP BY tranche
    ),
    tot AS (SELECT SUM(tranche_tokens) AS all_tokens FROM per)
    SELECT CAST(tranche AS BIGINT) AS tranche, n_docs, tranche_tokens,
           avg_quality,
           ROUND(SUM(tranche_tokens) OVER (ORDER BY tranche
                     ROWS UNBOUNDED PRECEDING) * 1.0 / all_tokens, 6)
               AS cum_token_share
    FROM per, tot
    """,
    doc="token-budget Pareto curve: 5% quality tranches with token "
    "mass and cumulative token share (global order over the doc-level "
    "reduction)",
)
def x_token_budget_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("tokens"),
        quality_score(F.col("text")).alias("q"),
    )
    ranked = d.withColumn(
        "tranche", F.ntile(20).over(Window.orderBy(F.col("q").desc(), "doc_id"))
    )
    per = ranked.groupBy("tranche").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tokens").cast("bigint").alias("tranche_tokens"),
        F.round(F.avg("q"), 6).alias("avg_quality"),
    )
    tot = per.agg(F.sum("tranche_tokens").alias("all_tokens"))
    cum = Window.orderBy("tranche").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("tranche").cast("bigint").alias("tranche"),
            "n_docs",
            "tranche_tokens",
            "avg_quality",
            F.round(
                F.sum("tranche_tokens").over(cum) * 1.0 / F.col("all_tokens"), 6
            ).alias("cum_token_share"),
        )
    )


# --------------------------------------------------------------------------
# Per-source token-budget admission (the rate-limit half of the ingest
# gate family, next to st_quality_gate's quality half): each source
# may contribute at most BUDGET tokens to the corpus; docs are
# admitted in deterministic arrival order (doc_id) until the source's
# running token total crosses the cap. One source-keyed cumulative
# window. Scale note: the window sorts each source's docs in one
# task — for a mega-source beyond a task's sort budget the same
# contract is served by the two-pass histogram-CDF trick
# (t_quality_calibrated_hist): bucket doc_ids, cumsum the per-bucket
# token totals, broadcast the bucket offsets back.
# --------------------------------------------------------------------------
@register(
    "x_source_token_budget",
    """
    WITH toks AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, source, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum_tokens
        FROM toks
    )
    SELECT doc_id, source, n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           (cum_tokens <= 2000) AS admitted
    FROM cum
    """,
    doc="per-source token-budget cap: arrival-ordered cumulative "
    "admission so no source exceeds its corpus contribution quota",
)
def x_source_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = docs.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    return d.withColumn("cum_tokens", F.sum("n_tokens").over(w)).select(
        "doc_id",
        "source",
        "n_tokens",
        F.col("cum_tokens").cast("bigint"),
        (F.col("cum_tokens") <= 2000).alias("admitted"),
    )


# --------------------------------------------------------------------------
# Quality-calibrated training mix — closes the
# mix-governance loop: instead of externally-supplied domain weights
# (x_interleave_domains), each source's sampling weight is DERIVED
# from its measured quality — weight = 0.5 + 1.5 × (fraction of the
# source's docs passing the d_clean_corpus admission gate), so clean
# sources are upsampled toward 2× and junk sources decay toward 0.5×.
# The expansion is the same deterministic integer-copies +
# md5-gated-fractional-copy machinery, except the fractional
# threshold is COMPUTED from the weight (lowercase fixed-width hex of
# floor(frac × 2^32) — string compare == numeric compare, identical
# in both engines; FLOOR before CAST because DuckDB CAST rounds).
# Plan: one word-keyed agg for the gate, a tiny broadcast of
# |sources| weights, then map-only expansion — no global sort.
# --------------------------------------------------------------------------
@register(
    "x_quality_weighted_mix",
    """
    WITH uni AS (
        SELECT doc_id, source, w, COUNT(*) AS n
        FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY 1, 2, 3
    ),
    flags AS (
        SELECT doc_id, source,
               CASE WHEN SUM(n) >= 20 AND MAX(n) * 1.0 / SUM(n) <= 0.25
                    THEN 1 ELSE 0 END AS ok
        FROM uni GROUP BY doc_id, source
    ),
    rates AS (
        SELECT source,
               ROUND(0.5 + 1.5 * ROUND(AVG(ok), 4), 4) AS weight
        FROM flags GROUP BY source
    ),
    plan AS (
        SELECT f.doc_id, f.source, r.weight,
               CAST(FLOOR(r.weight) AS INT) AS n_full,
               LPAD(LOWER(to_hex(CAST(FLOOR(
                   (r.weight - FLOOR(r.weight)) * 4294967296) AS BIGINT))),
                   8, '0') AS thr
        FROM flags f JOIN rates r USING (source)
    ),
    cop AS (
        SELECT doc_id, source, weight,
               n_full + CASE WHEN substr(
                   md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8) < thr
                   THEN 1 ELSE 0 END AS copies
        FROM plan
    )
    SELECT doc_id, source, weight, CAST(copy AS BIGINT) AS copy,
           md5(CAST(doc_id AS VARCHAR) || ':' || CAST(copy AS VARCHAR))
               AS interleave_key
    FROM (SELECT doc_id, source, weight, UNNEST(range(1, copies + 1)) AS copy
          FROM cop)
    """,
    doc="quality-calibrated training mix: per-source weight derived "
    "from the measured quality-gate pass rate (0.5x..2x), expanded "
    "via deterministic integer + md5-gated fractional copies with "
    "computed hex thresholds",
)
def x_quality_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.functions.text import quality_flag

    docs = load_table(spark, sf_dir, "documents")
    flags = docs.select(
        "doc_id", "source", quality_flag(F.col("text")).cast("int").alias("ok")
    )
    rates = flags.groupBy("source").agg(
        F.round(0.5 + 1.5 * F.round(F.avg("ok"), 4), 4).alias("weight")
    )
    frac = F.col("weight") - F.floor(F.col("weight"))
    sized = rates.select(
        "source",
        "weight",
        F.floor(F.col("weight")).cast("int").alias("n_full"),
        F.lpad(
            F.lower(F.hex(F.floor(frac * F.lit(4294967296)).cast("bigint"))),
            8,
            "0",
        ).alias("thr"),
    )
    h = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))), 1, 8
    )
    pland = flags.join(F.broadcast(sized), "source").select(
        "doc_id",
        "source",
        "weight",
        (F.col("n_full") + (h < F.col("thr")).cast("int")).alias("copies"),
    )
    expanded = pland.select(
        "doc_id",
        "source",
        "weight",
        F.explode(
            F.when(
                F.col("copies") >= 1, F.sequence(F.lit(1), F.col("copies"))
            ).otherwise(F.array().cast("array<int>"))
        ).alias("copy"),
    )
    return expanded.select(
        "doc_id",
        "source",
        "weight",
        F.col("copy").cast("bigint").alias("copy"),
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("copy").cast("string"),
            )
        ).alias("interleave_key"),
    )


# --------------------------------------------------------------------------
# Deterministic domain-weighted interleaving — epoch construction for a
# training mix: each source gets a sampling weight (upsample > 1 means
# integer repeat copies plus a hash-gated fractional copy; downsample
# < 1 keeps a hash-selected subset), and every emitted copy carries an
# md5 interleave key that consumers range-partition on to get a stable
# global shuffle order WITHOUT a single global sort. Map-only: no
# joins, no aggregation, no driver state; the fractional gate compares
# a fixed-width md5 prefix against a per-weight hex threshold (string
# compare of lowercase hex == numeric compare), so the decision is
# reproducible across engines and partitionings — same contract as
# x_hash_sample.
#
# Weights here derive from the source index (src<k>): k%4==0 -> 0.25x,
# 1 -> 1.0x, 2 -> 1.75x, 3 -> 2.5x — exercising drop, identity,
# integer+fraction, and multi-copy paths in one query.
# --------------------------------------------------------------------------
@register(
    "x_interleave_domains",
    r"""
    WITH base AS (
        SELECT doc_id, source,
               CASE WHEN regexp_extract(source, '(\d+)', 1) = '' THEN 1
                    ELSE CAST(regexp_extract(source, '(\d+)', 1) AS INT) % 4
               END AS m,
               substr(md5(CAST(doc_id AS VARCHAR) || ':keep'), 1, 8) AS h
        FROM documents
    ),
    sized AS (
        SELECT doc_id, source,
               (CASE m WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 1 ELSE 2 END)
               + (CASE WHEN h < (CASE m WHEN 0 THEN '40000000'
                                        WHEN 1 THEN '00000000'
                                        WHEN 2 THEN 'c0000000'
                                        ELSE '80000000' END)
                       THEN 1 ELSE 0 END) AS copies
        FROM base
    ),
    expanded AS (
        SELECT doc_id, source, UNNEST(range(1, copies + 1)) AS copy
        FROM sized
    )
    SELECT doc_id, source, copy,
           md5(CAST(doc_id AS VARCHAR) || ':' || CAST(copy AS VARCHAR))
               AS interleave_key
    FROM expanded
    """,
    doc="deterministic domain-weighted interleaving: per-source "
    "up/downsampling via integer copies + md5-gated fractional copy, "
    "md5 interleave key for sort-free global epoch order",
)
def x_interleave_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # A source without digits gets weight-class 1 (identity, 1.0x)
    # instead of an ANSI CAST_INVALID_INPUT crash on ''::int.
    digits = F.regexp_extract("source", r"(\d+)", 1)
    m = F.when(digits == "", F.lit(1)).otherwise(digits.cast("int") % 4)
    n_full = (
        F.when(m == 0, 0).when(m == 1, 1).when(m == 2, 1).otherwise(2)
    )
    thr = (
        F.when(m == 0, "40000000")
        .when(m == 1, "00000000")
        .when(m == 2, "c0000000")
        .otherwise("80000000")
    )
    h = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":keep"))), 1, 8
    )
    copies = n_full + (h < thr).cast("int")
    expanded = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.when(copies >= 1, F.sequence(F.lit(1), copies)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("copy"),
    )
    return expanded.select(
        "doc_id",
        "source",
        F.col("copy").cast("bigint").alias("copy"),
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("copy").cast("string"),
            )
        ).alias("interleave_key"),
    )


# --------------------------------------------------------------------------
# DSIR importance weights: Data Selection with Importance
# Resampling (Xie et al., NeurIPS 2023) — the standard recipe for
# "select raw-corpus documents that look like a target domain":
# hashed n-gram bag features, a multinomial LM per side, and per-doc
# importance weight log p_target(doc) - log p_raw(doc). At 100 TB this
# is the cheap alternative to model-based scoring: two bounded
# (B-bucket) count aggregates + one broadcast join per doc-token.
#
#  * features: word unigrams + bigrams hashed into B=4096 buckets via
#    the repo's deterministic md5 convention (byte-identical in
#    DuckDB);
#  * LMs: add-1-smoothed bucket multinomials — target = one declared
#    source (src0), raw = the whole corpus;
#  * weight: per-gram log-ratio quantized to integer nanounits and
#    summed as BIGINT (order-free exact, t_tfidf precedent), then
#    normalized by gram count (DSIR's sum is length-biased; the
#    per-gram mean ranks documents, not document lengths);
#  * output: top-50 docs by avg log-ratio — the docs DSIR would
#    resample FIRST into a src0-flavored mix.
#
# Scale: the gram explode is pinned once, doc-partitioned, so the
# per-doc aggregate is exchange-free; both LMs are <= B-row frames
# (broadcast); nothing quadratic anywhere.
# --------------------------------------------------------------------------
_DSIR_B = 4096
_DSIR_TARGET = "src0"


def _dsir_bucket_sql(expr: str) -> str:
    return (
        f"('0x' || substr(md5({expr}), 1, 8))::BIGINT % {_DSIR_B}"
    )


@register(
    "x_dsir_weights",
    f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
    ),
    grams AS (
        SELECT doc_id, source,
               {_dsir_bucket_sql("g")} AS b
        FROM (
            SELECT doc_id, source, UNNEST(
                list_transform(ws, w -> 'u:' || w)
                || list_transform(range(1, len(ws)),
                                  i -> 'b:' || ws[i] || ' ' || ws[i+1])
            ) AS g
            FROM toks
        )
    ),
    rawc AS (SELECT b, COUNT(*) AS cr FROM grams GROUP BY b),
    tgtc AS (SELECT b, COUNT(*) AS ct FROM grams
             WHERE source = '{_DSIR_TARGET}' GROUP BY b),
    nt AS (SELECT COUNT(*) AS n FROM grams WHERE source = '{_DSIR_TARGET}'),
    nr AS (SELECT COUNT(*) AS n FROM grams),
    lr AS (
        SELECT r.b,
               CAST(ROUND((LN((COALESCE(t.ct, 0) + 1.0) / (nt.n + {_DSIR_B}))
                          - LN((r.cr + 1.0) / (nr.n + {_DSIR_B}))) * 1e9)
                    AS BIGINT) AS qlr
        FROM rawc r LEFT JOIN tgtc t USING (b), nt, nr
    )
    SELECT g.doc_id,
           MIN(g.source) AS source,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           ROUND(SUM(l.qlr) * 1.0 / COUNT(*) / 1e9, 6) AS avg_logratio
    FROM grams g JOIN lr l USING (b)
    GROUP BY g.doc_id
    ORDER BY avg_logratio DESC, doc_id
    LIMIT 50
    """,
    doc="DSIR importance weights (Xie et al. 2023): hashed unigram+"
    f"bigram bag ({_DSIR_B} md5 buckets), add-1 bucket LMs for "
    f"target='{_DSIR_TARGET}' vs raw corpus, per-doc mean log-ratio "
    "(integer-nanounit quantized, BIGINT-summed — order-free exact); "
    "top-50 docs the resampler would pick first",
)
def x_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", F.split("text", " ").alias("ws"))
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        # ^ explode preserves this; the
        # per-doc aggregate below is then exchange-free
    )
    ws = F.col("ws")
    gram_strs = F.concat(
        F.transform(ws, lambda w: F.concat(F.lit("u:"), w)),
        F.when(
            F.size(ws) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(ws) - 2),
                lambda i: F.concat(
                    F.lit("b:"), F.get(ws, i), F.lit(" "), F.get(ws, i + 1)
                ),
            ),
        ).otherwise(F.array()),
    )
    grams = docs.select(
        "doc_id",
        "source",
        F.explode(gram_strs).alias("g"),
    ).select(
        "doc_id",
        "source",
        (
            F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("bigint") % _DSIR_B
        ).alias("b"),
    ).localCheckpoint(eager=True)  # feeds both LMs + the per-doc agg

    rawc = grams.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tgtc = (
        grams.where(F.col("source") == _DSIR_TARGET)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    nt = grams.where(F.col("source") == _DSIR_TARGET).agg(
        F.count(F.lit(1)).alias("n_t")
    )
    nr = grams.agg(F.count(F.lit(1)).alias("n_r"))
    lr = (
        rawc.join(tgtc, "b", "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .select(
            "b",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1.0)
                        / (F.col("n_t") + _DSIR_B)
                    )
                    - F.log((F.col("cr") + 1.0) / (F.col("n_r") + _DSIR_B))
                )
                * 1e9
            )
            .cast("bigint")
            .alias("qlr"),
        )
    )
    return (
        grams.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.min("source").alias("source"),
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum("qlr").alias("qsum"),
        )
        .select(
            "doc_id",
            "source",
            "n_grams",
            F.round(F.col("qsum") * 1.0 / F.col("n_grams") / 1e9, 6).alias(
                "avg_logratio"
            ),
        )
        .orderBy(F.col("avg_logratio").desc(), "doc_id")
        .limit(50)
    )


# --------------------------------------------------------------------------
# Corpus diversity index — the dataset-card headline numbers for
# source balance: Shannon entropy (bits) of the source share
# distribution, the effective source count 2^H (how many EQUAL-sized
# sources the mix behaves like), and the largest single-source share.
# One source-keyed reduction (|sources| rows), scalar math on rounded
# shares so both engines sum identically.
# --------------------------------------------------------------------------
@register(
    "x_source_entropy",
    """
    WITH per_src AS (
        SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ),
    shares AS (
        SELECT source, ROUND(n * 1.0 / SUM(n) OVER (), 6) AS share
        FROM per_src
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
           ROUND(SUM(-share * log2(share)), 6) AS entropy_bits,
           ROUND(POW(2.0, SUM(-share * log2(share))), 6) AS effective_sources,
           ROUND(MAX(share), 6) AS top_share
    FROM shares
    """,
    doc="source-balance diversity index: share entropy (bits), "
    "effective source count 2^H, max single-source share",
)
def x_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    shares = per_src.select(
        F.round(
            F.col("n") * 1.0 / F.sum("n").over(Window.partitionBy()), 6
        ).alias("share")
    )
    h = F.sum(-F.col("share") * F.log2("share"))
    return shares.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
        F.round(h, 6).alias("entropy_bits"),
        F.round(F.pow(F.lit(2.0), h), 6).alias("effective_sources"),
        F.round(F.max("share"), 6).alias("top_share"),
    )


# --------------------------------------------------------------------------
# Curriculum ordering — the training-order artifact: documents are
# assigned a curriculum phase from their GLOBAL quality percentile
# (histogram-CDF, same no-corpus-sort machinery as
# t_quality_calibrated_hist but without the per-source dimension) and
# a deterministic md5 order key within the phase. Phase 0 = top
# quality quartile (train on the cleanest data first), phase 3 = the
# tail; consumers range-partition on (phase, order_key) — no global
# sort of documents ever runs inside the query.
# --------------------------------------------------------------------------
@register(
    "x_curriculum_order",
    f"""
    WITH toks AS (
        SELECT doc_id, source, text, string_split(text, ' ') AS t FROM documents
    ),
    q AS (
        SELECT doc_id, {QUALITY_SCORE_SQL} AS quality FROM toks
    ),
    binned AS (
        SELECT doc_id, quality,
               CAST(LEAST(69, GREATEST(0,
                    FLOOR((quality + 1.0) / 0.05))) AS INT) AS bin
        FROM q
    ),
    bc AS (SELECT bin, COUNT(*) AS n FROM binned GROUP BY 1),
    cum AS (
        SELECT bin,
               COALESCE(SUM(n) OVER (ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below,
               SUM(n) OVER () AS tot
        FROM bc
    )
    SELECT b.doc_id, b.quality,
           ROUND(c.below * 1.0 / c.tot, 6) AS pctile,
           CAST(3 - LEAST(3, FLOOR((c.below * 1.0 / c.tot) * 4)) AS INT)
               AS phase,
           md5(CAST(b.doc_id AS VARCHAR) || ':curriculum') AS order_key
    FROM binned b JOIN cum c USING (bin)
    """,
    doc="curriculum ordering: phase from global histogram-CDF quality "
    "quartile (0 = cleanest first) + deterministic md5 order key",
)
def x_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    binned = docs.select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    ).withColumn(
        "bin",
        F.least(
            F.lit(69),
            F.greatest(F.lit(0), F.floor((F.col("quality") + 1.0) / 0.05)),
        ).cast("int"),
    )
    bc = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n"))
    w_below = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    w_tot = Window.partitionBy()
    cum = bc.select(
        "bin",
        F.coalesce(F.sum("n").over(w_below), F.lit(0)).alias("below"),
        F.sum("n").over(w_tot).alias("tot"),
    )
    pct = F.col("below") * 1.0 / F.col("tot")
    return binned.join(F.broadcast(cum), "bin").select(
        "doc_id",
        "quality",
        F.round(pct, 6).alias("pctile"),
        (F.lit(3) - F.least(F.lit(3), F.floor(pct * 4))).cast("int").alias("phase"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":curriculum"))).alias(
            "order_key"
        ),
    )


# --------------------------------------------------------------------------
# Epoch manifest — the composed training-order artifact a loader
# actually streams: the domain-weighted copies of x_interleave_domains
# joined with the curriculum phase of x_curriculum_order, each row
# carrying (phase, interleave_key) — range-partition on that pair and
# you have curriculum-staged, domain-mixed, deterministically
# shuffled epochs with no global sort anywhere. Demonstrates that the
# pipeline's artifacts compose: both inputs are the registered
# queries' exact computations.
# --------------------------------------------------------------------------
def _epoch_manifest_sql() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id, source, text, string_split(text, ' ') AS t FROM documents
    ),
    q AS (
        SELECT doc_id, {QUALITY_SCORE_SQL} AS quality FROM toks
    ),
    binned AS (
        SELECT doc_id,
               CAST(LEAST(69, GREATEST(0,
                    FLOOR((quality + 1.0) / 0.05))) AS INT) AS bin
        FROM q
    ),
    bc AS (SELECT bin, COUNT(*) AS n FROM binned GROUP BY 1),
    cum AS (
        SELECT bin,
               COALESCE(SUM(n) OVER (ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS below,
               SUM(n) OVER () AS tot
        FROM bc
    ),
    phases AS (
        SELECT b.doc_id,
               CAST(3 - LEAST(3, FLOOR((c.below * 1.0 / c.tot) * 4)) AS INT)
                   AS phase
        FROM binned b JOIN cum c USING (bin)
    ),
    base AS (
        SELECT doc_id, source,
               CASE WHEN regexp_extract(source, '(\\d+)', 1) = '' THEN 1
                    ELSE CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 4
               END AS m,
               substr(md5(CAST(doc_id AS VARCHAR) || ':keep'), 1, 8) AS h
        FROM documents
    ),
    sized AS (
        SELECT doc_id, source,
               (CASE m WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 1 ELSE 2 END)
               + (CASE WHEN h < (CASE m WHEN 0 THEN '40000000'
                                        WHEN 1 THEN '00000000'
                                        WHEN 2 THEN 'c0000000'
                                        ELSE '80000000' END)
                       THEN 1 ELSE 0 END) AS copies
        FROM base
    ),
    expanded AS (
        SELECT doc_id, source, UNNEST(range(1, copies + 1)) AS copy
        FROM sized
    )
    SELECT e.doc_id, e.source, e.copy, p.phase,
           md5(CAST(e.doc_id AS VARCHAR) || ':' || CAST(e.copy AS VARCHAR))
               AS interleave_key
    FROM expanded e JOIN phases p USING (doc_id)
    """


@register(
    "x_epoch_manifest",
    _epoch_manifest_sql(),
    doc="composed epoch manifest: domain-weighted interleave copies x "
    "curriculum phase, keyed for sort-free curriculum-staged epochs",
)
def x_epoch_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    copies = x_interleave_domains(spark, sf_dir)
    phases = x_curriculum_order(spark, sf_dir).select("doc_id", "phase")
    return copies.join(phases, "doc_id").select(
        "doc_id", "source", "copy", "phase", "interleave_key"
    )


# --------------------------------------------------------------------------
# x_epoch_shuffle_quality: mixing audit for the epoch ordering —
# given documents ordered by the deterministic md5 interleave key
# (the x_interleave_domains convention), how often are ADJACENT rows
# from the same source, vs the Σ p_i² rate perfect mixing predicts?
# A ratio ≫ 1 means the shuffle key clumps a source (bad batches:
# consecutive same-domain examples raise gradient correlation); ≈ 1
# certifies the md5 key mixes. One window pass over the ordered
# corpus + one tiny aggregate; integer counts exact, rates 6dp.
# Scale: the lag window needs a total order — at 100 TB you audit a
# bounded SAMPLE of the order (the statistic is an average, stable on
# samples), or per range-partition with the same contract.
# --------------------------------------------------------------------------
@register(
    "x_epoch_shuffle_quality",
    """
    WITH ordered AS (
        SELECT source,
               LAG(source) OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || ':epoch'), doc_id
               ) AS prev_source
        FROM documents
    ),
    adj AS (
        SELECT COUNT(*) FILTER (prev_source IS NOT NULL) AS n_pairs,
               COUNT(*) FILTER (prev_source = source) AS n_same
        FROM ordered
    ),
    shares AS (
        SELECT SUM(POW(n * 1.0 / tot, 2)) AS expected_rate
        FROM (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
             (SELECT COUNT(*) AS tot FROM documents)
    )
    SELECT CAST(a.n_pairs AS BIGINT) AS n_pairs,
           CAST(a.n_same AS BIGINT) AS n_same,
           ROUND(a.n_same * 1.0 / a.n_pairs, 6) AS same_rate,
           ROUND(s.expected_rate, 6) AS expected_rate,
           ROUND((a.n_same * 1.0 / a.n_pairs) / s.expected_rate, 6)
               AS mixing_ratio
    FROM adj a, shares s
    """,
    doc="epoch-ordering mixing audit: adjacent same-source rate under "
    "the md5 interleave order vs the sum-p_i-squared perfect-mixing "
    "expectation; ratio ~1 certifies the shuffle key, >>1 flags "
    "clumping; integer counts exact, rates 6dp",
)
def x_epoch_shuffle_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":epoch"))),
        "doc_id",
    )
    ordered = docs.select(
        "source", F.lag("source").over(w).alias("prev_source")
    )
    adj = ordered.agg(
        F.count_if(F.col("prev_source").isNotNull()).alias("n_pairs"),
        F.count_if(F.col("prev_source") == F.col("source")).alias("n_same"),
    )
    tot = docs.agg(F.count(F.lit(1)).alias("tot"))
    shares = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(tot))
        .agg(F.sum(F.pow(F.col("n") * 1.0 / F.col("tot"), 2)).alias("expected_rate"))
    )
    return adj.crossJoin(F.broadcast(shares)).select(
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.col("n_same").cast("bigint").alias("n_same"),
        F.round(F.col("n_same") * 1.0 / F.col("n_pairs"), 6).alias("same_rate"),
        F.round("expected_rate", 6).alias("expected_rate"),
        F.round(
            (F.col("n_same") * 1.0 / F.col("n_pairs")) / F.col("expected_rate"), 6
        ).alias("mixing_ratio"),
    )


# --------------------------------------------------------------------------
# Stratified exact-quota sampling — the split builder x_hash_sample's
# Bernoulli gate can't give you: EXACTLY ceil(10%) of each source
# (per-stratum quotas for eval sets, annotation batches, per-domain
# audits). Deterministic: rows rank by md5(doc_id:strat) within their
# stratum and the first ceil(n×rate) survive — stable across runs,
# partitionings, and engines; adding documents to one source never
# changes another source's sample.
# --------------------------------------------------------------------------
@register(
    "x_stratified_sample",
    """
    WITH ranked AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || ':strat'), doc_id
               ) AS rk,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM documents
    )
    SELECT doc_id, source FROM ranked
    WHERE rk <= (n + 9) // 10
    """,
    doc="stratified exact-quota sample: deterministic md5-ranked "
    "top-ceil(10%) per source (per-stratum quotas, run- and "
    "partitioning-stable)",
)
def x_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":strat"))),
        "doc_id",
    )
    wc = Window.partitionBy("source")
    return (
        docs.select(
            "doc_id",
            "source",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(wc).alias("n"),
        )
        # Integer arithmetic: (n + 9) div 10 == ceil(n/10) exactly for
        # all n — CEIL(n * 0.1) in doubles overshoots by one for some n
        # (e.g. 30 * 0.1 = 3.0000000000000004).
        .where(F.col("rk") <= F.expr("(n + 9) div 10"))
        .select("doc_id", "source")
    )


# --------------------------------------------------------------------------
# x_reservoir_sample: EXACT-SIZE weighted sampling without
# replacement, per stratum — Efraimidis & Spirakis (IPL 2006) A-Res:
# each row draws key = -ln(u)/w (the exponential race; u uniform,
# w the weight) and the k SMALLEST keys per stratum are the sample,
# which is distributed exactly as sequential weighted draws without
# replacement. Complements the sampling family: x_hash_sample /
# t_weighted_sample are Bernoulli (variable size), x_stratified_sample
# is exact-quota but unweighted; this is exact-quota AND weighted —
# the "give me exactly 50 docs per source, long docs proportionally more
# likely" mix builder.
#
# Determinism & the oracle: u = (md5_32(doc_id) + 0.5) / 2^32 (never
# 0 or 1, bit-identical in any engine with md5 — the repo's seeded-
# uniform idiom); the race key is QUANTIZED to integer nanounits
# (floor(1e9 * ln(u)/-w), ties by doc_id) so a last-ULP ln()
# difference between engines cannot flip the rank-k boundary. One
# top-k-per-group window (W1 shape: partial top-k per partition under
# AQE, no global sort) — at 100 TB this is the same plan as
# w1_topk_per_group.
# --------------------------------------------------------------------------
@register(
    "x_reservoir_sample",
    """
    WITH keyed AS (
        SELECT source, doc_id, n_chars,
               CAST(FLOOR(
                   1e9 * LN((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
                            / 4294967296.0)
                   / -GREATEST(n_chars, 1)
               ) AS BIGINT) AS race_key
        FROM documents
    )
    SELECT source, doc_id, n_chars, rank FROM (
        SELECT source, doc_id, n_chars,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY race_key, doc_id) AS BIGINT)
                   AS rank
        FROM keyed)
    WHERE rank <= 10
    """,
    doc="weighted reservoir sample (Efraimidis-Spirakis A-Res): "
    "exactly 10 docs per source, selection probability proportional "
    "to n_chars, without replacement -- exponential race keys from "
    "md5 uniforms, quantized to integer nanounits so the rank-k "
    "boundary is engine-exact; one top-k-per-group window",
)
def x_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        + 0.5
    ) / F.lit(4294967296.0)
    race = F.floor(
        F.lit(1e9) * F.log(u) / -F.greatest(F.col("n_chars"), F.lit(1))
    ).cast("bigint")
    w = Window.partitionBy("source").orderBy(race, "doc_id")
    return (
        docs.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 10)
        .select("source", "doc_id", "n_chars", "rank")
    )


# --------------------------------------------------------------------------
# x_split_leakage: train/test contamination audit — the classic
# eval-hygiene failure where a doc-id-keyed split puts VERBATIM
# duplicates of the same text on both sides of the train/test fence
# (the reason dedup must precede splitting; Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better" §5).
# Duplicate tier = shared 8-word prefix (the crawl-boilerplate
# fingerprint d_cross_source_dups uses — the fixture has no verbatim
# full-text copies, so the exact tier would audit an always-empty
# set), split = the x_hash_split md5-range convention. Reports, per
# split pair, how many duplicate groups and docs straddle the fence;
# zero means the split is leak-free AT THIS TIER (near-dup tiers
# escalate to d_minhash_lsh / d_semdedup before splitting). One
# prefix-hash aggregate + one tiny self-join of the leaky-group
# frame — integer-exact.
# --------------------------------------------------------------------------
@register(
    "x_split_leakage",
    """
    WITH tagged AS (
        SELECT md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS th,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         < 'cccccccc' THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         < 'e6666666' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ),
    per_group AS (
        SELECT th, split, COUNT(*) AS n FROM tagged GROUP BY 1, 2
    ),
    leaks AS (
        SELECT a.th, a.split AS split_a, b.split AS split_b,
               a.n AS n_a, b.n AS n_b
        FROM per_group a JOIN per_group b
          ON a.th = b.th AND a.split < b.split
    )
    SELECT split_a, split_b,
           CAST(COUNT(*) AS BIGINT) AS n_leaky_groups,
           CAST(COALESCE(SUM(n_a + n_b), 0) AS BIGINT) AS n_docs_involved
    FROM leaks
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="train/test leakage audit: exact-duplicate text groups that "
    "straddle the doc-id hash split (dedup-before-split hygiene, Lee "
    "et al. 2022); per split pair, leaky group + involved doc counts "
    "— zero on a clean corpus; integer-exact",
)
def x_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tagged = hash_split(docs, "doc_id").select(
        F.md5(
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8))
        ).alias("th"),
        "split",
    )
    per_group = tagged.groupBy("th", "split").agg(F.count(F.lit(1)).alias("n"))
    a = per_group.select(
        "th", F.col("split").alias("split_a"), F.col("n").alias("n_a")
    )
    b = per_group.select(
        "th", F.col("split").alias("split_b"), F.col("n").alias("n_b")
    )
    leaks = a.join(b, "th").where(F.col("split_a") < F.col("split_b"))
    return (
        leaks.groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_leaky_groups"),
            F.sum(F.col("n_a") + F.col("n_b")).cast("bigint").alias(
                "n_docs_involved"
            ),
        )
        .orderBy("split_a", "split_b")
    )
