"""Deduplication queries over the documents table (SURVEY.md §7.5).

Exact (hash-groupBy), n-gram Jaccard, MinHash+LSH banding, SimHash —
each with a DuckDB oracle built from the same md5 primitives, so hash
values (and therefore candidate sets) match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from listenbrainz_server_spark.catalog import load_table
from listenbrainz_server_spark.functions.text import QUALITY_SCORE_SQL
from listenbrainz_server_spark.operators.dedup import (
    connected_components,
    contamination_pairs,
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    shingle_index,
    simhash,
)
from listenbrainz_server_spark.queries import register

_SHINGLE_CTE = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    idx AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(range(1, len(t) - 1),
                      i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM toks
        WHERE len(t) >= 3
    )
"""


# --------------------------------------------------------------------------
# Exact dedup: representative id + duplicate count per fingerprint
# (generalizes listens/delete.py:53-60 group-by-all-columns dedup).
# --------------------------------------------------------------------------
@register(
    "d_exact_dedup",
    r"""
    SELECT md5(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fp,
           MIN(doc_id) AS doc_id,
           COUNT(*) AS dup_count
    FROM documents
    GROUP BY 1
    """,
    doc="exact dedup via normalized-text hash groupBy",
)
def d_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (exact set similarity, the correctness
# baseline for MinHash).
# --------------------------------------------------------------------------
@register(
    "d_jaccard_pairs",
    f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM idx GROUP BY 1),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(shared * 1.0 / (sa.sz + sb.sz - shared), 6) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.5
    """,
    doc="exact 3-gram Jaccard near-dup pairs (threshold 0.5)",
)
def d_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, materialize_index=True
    )


# --------------------------------------------------------------------------
# MinHash + LSH banding candidate pairs — the scale path: candidates
# come from band-bucket equality, never an all-pairs join.
# --------------------------------------------------------------------------
_H, _B = 16, 8
_R = _H // _B


def _minhash_sql() -> str:
    sig_cols = ",\n               ".join(
        f"MIN(md5('{i}|' || shingle)) AS mh{i}" for i in range(_H)
    )
    band_selects = "\n        UNION ALL\n".join(
        f"""        SELECT doc_id, {b} AS band_id,
               md5(concat_ws('|', {', '.join(f'mh{b * _R + r}' for r in range(_R))})) AS band_key
        FROM sigs"""
        for b in range(_B)
    )
    return f"""
    WITH {_SHINGLE_CTE},
    sigs AS (
        SELECT doc_id,
               {sig_cols}
        FROM idx GROUP BY doc_id
    ),
    buckets AS (
{band_selects}
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM buckets a
    JOIN buckets b ON a.band_id = b.band_id AND a.band_key = b.band_key
                   AND a.doc_id < b.doc_id
    """


@register(
    "d_minhash_lsh",
    _minhash_sql(),
    doc=f"MinHash-LSH candidate pairs (H={_H}, bands={_B}, rows={_R})",
)
def d_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return lsh_candidate_pairs(docs, "doc_id", "text", n=3, num_hashes=_H, bands=_B)


# --------------------------------------------------------------------------
# SimHash signatures (16-bit; one hex-char-derived vote per bit).
# --------------------------------------------------------------------------
_BITS = 16


def _simhash_sql() -> str:
    votes = ",\n               ".join(
        f"SUM(CASE WHEN substr(md5(tok), {i + 1}, 1) IN "
        "('0','1','2','3','4','5','6','7') THEN -1 ELSE 1 END) AS v{i}".replace(
            "{i}", str(i)
        )
        for i in range(_BITS)
    )
    bit_concat = " || ".join(
        f"(CASE WHEN v{i} >= 0 THEN '1' ELSE '0' END)" for i in range(_BITS)
    )
    return f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
    ),
    votes AS (
        SELECT doc_id,
               {votes}
        FROM tok GROUP BY doc_id
    )
    SELECT doc_id, {bit_concat} AS simhash FROM votes
    """


@register("d_simhash", _simhash_sql(), doc=f"{_BITS}-bit SimHash signature per doc")
def d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, "doc_id", "text", bits=_BITS)


# --------------------------------------------------------------------------
# Duplicate-group assignment: connected components over the Jaccard
# near-dup pairs (min-label propagation ≡ recursive-CTE transitive
# closure in the oracle).
# --------------------------------------------------------------------------
@register(
    "d_dup_groups",
    f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM idx GROUP BY 1),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b FROM shared
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.5
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    closure(id, reach) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT c.id, e.dst FROM closure c JOIN edges e ON c.reach = e.src
    )
    SELECT id AS doc_id, MIN(reach) AS group_id
    FROM closure GROUP BY id
    """,
    doc="dup-group assignment: connected components over near-dup pairs",
)
def d_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # materialize_index: the inverted index feeds sizes + both join
    # sides; one tokenize pass instead of three (see jaccard_pairs).
    pairs = jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, materialize_index=True
    )
    return connected_components(
        docs.select("doc_id"), pairs.select("id_a", "id_b"), id_col="doc_id"
    )


# --------------------------------------------------------------------------
# Benchmark-contamination detection: the held-out "benchmark" split is
# a deterministic hash slice of documents; training docs containing
# >= 50% of a benchmark doc's distinct 3-grams are flagged. The
# standard pre-training decontamination sweep, shaped as a bucketed
# shingle join (never all-pairs).
# --------------------------------------------------------------------------
@register(
    "d_contamination",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    idx AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(range(1, len(t) - 1),
                      i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM toks
        WHERE len(t) >= 3
    ),
    ti AS (SELECT doc_id AS train_id, shingle FROM idx WHERE doc_id % 17 <> 3),
    bi AS (SELECT doc_id AS bench_id, shingle FROM idx WHERE doc_id % 17 = 3),
    bench_sz AS (SELECT bench_id, COUNT(*) AS bench_sz FROM bi GROUP BY 1),
    shared AS (
        SELECT train_id, bench_id, COUNT(*) AS shared_ngrams
        FROM ti JOIN bi USING (shingle)
        GROUP BY 1, 2
    )
    SELECT train_id, bench_id, shared_ngrams,
           ROUND(shared_ngrams * 1.0 / bench_sz, 6) AS containment
    FROM shared JOIN bench_sz USING (bench_id)
    WHERE shared_ngrams * 1.0 / bench_sz >= 0.5
    """,
    doc="benchmark-contamination pairs: 3-gram containment >= 0.5 of a "
    "hash-sliced benchmark split (pre-training decontamination sweep)",
)
def d_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 17 == 3)
    train = docs.where(F.col("doc_id") % 17 != 3)
    return contamination_pairs(train, bench, "doc_id", "text", n=3, min_containment=0.5)


# --------------------------------------------------------------------------
# Exact-substring contamination: verbatim character-run
# detection that survives tokenization shifts — word n-gram containment
# (d_contamination above) misses a leak re-punctuated or re-cased;
# normalized char k-grams do not. Bench grams at every offset, train
# grams at stride 8: any shared normalized run >= k+stride-1 = 31 chars
# is guaranteed caught. Bucketed join on md5(gram) — never all-pairs.
# --------------------------------------------------------------------------
@register(
    "d_contamination_exact",
    """
    WITH norm AS (
        SELECT doc_id,
               TRIM(regexp_replace(LOWER(text), '[^a-z0-9]+', ' ', 'g')) AS t
        FROM documents
    ),
    tg AS (
        SELECT DISTINCT doc_id AS train_id,
               md5(UNNEST(list_transform(range(1, len(t) - 24 + 2, 8),
                          p -> substr(t, p, 24)))) AS g
        FROM norm WHERE doc_id % 17 <> 3 AND len(t) >= 24
    ),
    bg AS (
        SELECT DISTINCT doc_id AS bench_id,
               md5(UNNEST(list_transform(range(1, len(t) - 24 + 2, 1),
                          p -> substr(t, p, 24)))) AS g
        FROM norm WHERE doc_id % 17 = 3 AND len(t) >= 24
    )
    SELECT train_id, bench_id, COUNT(*) AS matched_grams
    FROM tg JOIN bg USING (g)
    GROUP BY 1, 2
    """,
    doc="exact-substring contamination: normalized char-24-gram rolling-"
    "hash match (train stride 8, bench stride 1) vs the hash-sliced "
    "benchmark split — catches verbatim-but-tokenization-shifted leaks",
)
def d_contamination_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.dedup import (
        exact_substring_contamination,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 17 == 3)
    train = docs.where(F.col("doc_id") % 17 != 3)
    return exact_substring_contamination(
        train, bench, "doc_id", "text", k=24, stride=8
    )


# --------------------------------------------------------------------------
# Within-corpus exact-substring duplicate pairs: the train-train
# counterpart of d_contamination_exact. Word-shingle tiers (Jaccard /
# MinHash) miss near-copies whose tokenization shifted; verbatim
# normalized character runs do not. One fine (stride-1) and one coarse
# (stride-8) gram index over the SAME corpus, md5-keyed equi join,
# unordered pairs canonicalized and gram-counted DISTINCT across both
# directions.
# --------------------------------------------------------------------------
@register(
    "d_exact_substring_pairs",
    """
    WITH norm AS (
        SELECT doc_id,
               TRIM(regexp_replace(LOWER(text), '[^a-z0-9]+', ' ', 'g')) AS t
        FROM documents
    ),
    wfp AS (
        SELECT doc_id, UNNEST(list_distinct(list_transform(
                   range(1, greatest(1, len(t) - 24 + 1 - 8 + 1) + 1),
                   i -> list_min(list_transform(
                       range(i, least(i + 8 - 1, len(t) - 24 + 1) + 1),
                       j -> md5(substr(t, j, 24))))))) AS fp
        FROM norm WHERE len(t) >= 24
    ),
    cand AS (
        SELECT DISTINCT doc_id FROM wfp
        WHERE fp IN (SELECT fp FROM wfp GROUP BY fp HAVING COUNT(*) >= 2)
    ),
    cg AS (
        SELECT DISTINCT doc_id AS cid,
               md5(UNNEST(list_transform(range(1, len(t) - 24 + 2, 8),
                          p -> substr(t, p, 24)))) AS g
        FROM norm WHERE len(t) >= 24
          AND doc_id IN (SELECT doc_id FROM cand)
    ),
    fg AS (
        SELECT DISTINCT doc_id AS fid,
               md5(UNNEST(list_transform(range(1, len(t) - 24 + 2, 1),
                          p -> substr(t, p, 24)))) AS g
        FROM norm WHERE len(t) >= 24
          AND doc_id IN (SELECT doc_id FROM cand)
    )
    SELECT LEAST(cid, fid) AS id_a, GREATEST(cid, fid) AS id_b,
           COUNT(DISTINCT g) AS matched_grams
    FROM cg JOIN fg USING (g)
    WHERE cid <> fid
    GROUP BY 1, 2
    HAVING COUNT(DISTINCT g) >= 1
    """,
    doc="within-corpus exact-substring duplicate pairs: normalized "
    "char-24-gram rolling hash, fine (stride 1) vs coarse (stride 8) "
    "index self-join, gated by the winnowed candidate-doc prefilter "
    "(recall 1 for every guaranteed-detectable >=31-char run; the "
    "oracle replicates the winnow gate verbatim)",
)
def d_exact_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.dedup import exact_substring_pairs

    docs = load_table(spark, sf_dir, "documents")
    # min_matched=1 preserves the operator's k+stride-1 = 31-char
    # detection guarantee: a 31-38 char shared run can contribute
    # exactly ONE coarse-aligned gram, so requiring 2 would silently
    # raise the guaranteed-detection floor to 39 chars.
    return exact_substring_pairs(docs, "doc_id", "text", k=24, stride=8, min_matched=1)


# --------------------------------------------------------------------------
# Verbatim-span EXTENTS: once d_exact_substring_pairs
# says two docs share text, this reports WHERE — maximal matched runs
# with 1-based offsets into the normalized text of both docs. Anchors
# from the positioned fine×coarse gram join sit on one diagonal
# (cpos−fpos) per contiguous run at coarse-grid spacing; a keyed
# gaps-and-islands pass merges them. Every window partitions by
# (pair, diagonal) — anchor-count bounded, never corpus bounded.
# --------------------------------------------------------------------------
@register(
    "d_substring_spans",
    """
    WITH norm AS (
        SELECT doc_id,
               TRIM(regexp_replace(LOWER(text), '[^a-z0-9]+', ' ', 'g')) AS t
        FROM documents
    ),
    wfp AS (
        SELECT doc_id, UNNEST(list_distinct(list_transform(
                   range(1, greatest(1, len(t) - 24 + 1 - 8 + 1) + 1),
                   i -> list_min(list_transform(
                       range(i, least(i + 8 - 1, len(t) - 24 + 1) + 1),
                       j -> md5(substr(t, j, 24))))))) AS fp
        FROM norm WHERE len(t) >= 24
    ),
    cand AS (
        SELECT DISTINCT doc_id FROM wfp
        WHERE fp IN (SELECT fp FROM wfp GROUP BY fp HAVING COUNT(*) >= 2)
    ),
    cpossrc AS (
        SELECT doc_id, t, UNNEST(range(1, len(t) - 24 + 2, 8)) AS p
        FROM norm WHERE len(t) >= 24
          AND doc_id IN (SELECT doc_id FROM cand)
    ),
    cg AS (
        SELECT doc_id AS cid, p AS cpos, md5(substr(t, p, 24)) AS g FROM cpossrc
    ),
    fpossrc AS (
        SELECT doc_id, t, UNNEST(range(1, len(t) - 24 + 2, 1)) AS p
        FROM norm WHERE len(t) >= 24
          AND doc_id IN (SELECT doc_id FROM cand)
    ),
    fg AS (
        SELECT doc_id AS fid, p AS fpos, md5(substr(t, p, 24)) AS g FROM fpossrc
    ),
    anch AS (
        SELECT cid AS src_id, fid AS dst_id, cpos, cpos - fpos AS diag
        FROM cg JOIN fg USING (g)
        WHERE cid <> fid
    ),
    flagged AS (
        SELECT src_id, dst_id, cpos, diag,
               CASE WHEN cpos - LAG(cpos) OVER w > 8 THEN 1 ELSE 0 END AS brk
        FROM anch
        WINDOW w AS (PARTITION BY src_id, dst_id, diag ORDER BY cpos)
    ),
    isl AS (
        SELECT src_id, dst_id, cpos, diag,
               SUM(brk) OVER (PARTITION BY src_id, dst_id, diag ORDER BY cpos
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    )
    SELECT src_id, dst_id,
           MIN(cpos) AS src_start,
           MAX(cpos) + 24 - 1 AS src_end,
           MIN(cpos) - diag AS dst_start,
           MAX(cpos) - diag + 24 - 1 AS dst_end,
           MAX(cpos) - MIN(cpos) + 24 AS span_chars,
           CAST(COUNT(*) AS BIGINT) AS n_anchors
    FROM isl
    GROUP BY src_id, dst_id, diag, island
    """,
    doc="maximal verbatim-run extents per doc pair: positioned "
    "char-24-gram anchors merged along diagonals (gaps-and-islands); "
    "start/end offsets in both docs' normalized text",
)
def d_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.dedup import exact_substring_spans

    docs = load_table(spark, sf_dir, "documents")
    return exact_substring_spans(docs, "doc_id", "text", k=24, stride=8)


# --------------------------------------------------------------------------
# End-to-end corpus cleaning — the composed training-data pipeline:
# quality gate (Gopher-style repetition thresholds) → exact dedup
# (fingerprint, min-id representative) → near-dup collapse (Jaccard
# pairs → connected components, keep the group representative) →
# sequence packing of the survivors. One query, every stage an
# operator this engine ships; the oracle replicates all four stages
# (connected components as a recursive-CTE closure).
# --------------------------------------------------------------------------
@register(
    "d_clean_corpus",
    r"""
    WITH RECURSIVE toksq AS (
        SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents
    ),
    uni AS (
        SELECT doc_id, w, COUNT(*) AS n
        FROM (SELECT doc_id, unnest(ws) AS w FROM toksq) GROUP BY 1, 2
    ),
    quality AS (
        SELECT doc_id FROM uni GROUP BY doc_id
        HAVING SUM(n) >= 20 AND MAX(n) * 1.0 / SUM(n) <= 0.25
    ),
    qdocs AS (
        SELECT t.doc_id, t.text, t.ws FROM toksq t
        JOIN quality q ON t.doc_id = q.doc_id
    ),
    fps AS (
        SELECT doc_id,
               md5(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fp
        FROM qdocs
    ),
    exact_reps AS (SELECT MIN(doc_id) AS doc_id FROM fps GROUP BY fp),
    sdocs AS (
        SELECT q.doc_id, q.ws FROM qdocs q JOIN exact_reps r ON q.doc_id = r.doc_id
    ),
    idx AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(range(1, len(ws) - 1),
                      i -> array_to_string(ws[i:i+2], ' '))) AS shingle
        FROM sdocs WHERE len(ws) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM idx GROUP BY 1),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b FROM shared
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.5
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    closure(id, reach) AS (
        SELECT doc_id, doc_id FROM sdocs
        UNION
        SELECT c.id, e.dst FROM closure c JOIN edges e ON c.reach = e.src
    ),
    groups AS (SELECT id AS doc_id, MIN(reach) AS group_id FROM closure GROUP BY id),
    kept AS (
        SELECT s.doc_id, CAST(len(s.ws) AS BIGINT) AS n_tokens
        FROM sdocs s JOIN groups g ON s.doc_id = g.doc_id
        WHERE g.doc_id = g.group_id
    ),
    offs AS (
        SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY doc_id % 8 ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS start_offset
        FROM kept
    )
    SELECT doc_id, shard,
           CAST(FLOOR(start_offset / 256) AS BIGINT) AS seq_id,
           start_offset, n_tokens,
           (FLOOR((start_offset + n_tokens - 1) / 256) >
                FLOOR(start_offset / 256)) AS straddles
    FROM offs
    """,
    doc="end-to-end corpus cleaning: quality gate -> exact dedup -> "
    "near-dup component collapse -> sequence packing of survivors",
)
def d_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.functions.text import token_count
    from listenbrainz_server_spark.operators.joins import semi_join
    from listenbrainz_server_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")

    # 1. Quality gate: total tokens >= 20, top-word share <= 0.25.
    # Fused into the scan as pure column expressions (sorted-array
    # run-length top-word count) — zero shuffles, where the previous
    # explode → groupBy(doc, w) → groupBy(doc) formulation paid two
    # full-corpus exchanges before the pipeline even started.
    from listenbrainz_server_spark.functions.text import quality_flag

    # Pin the quality-gated frame ONCE (fewer sequential jobs): it feeds
    # the exact-dedup build side, the survivor semi-join's left side
    # (both inside the sdocs pin job), and (in the funnel) the
    # n_quality count — the per-doc sorted-token quality expression
    # otherwise re-evaluates once per branch over the full corpus.
    qdocs = docs.where(quality_flag(F.col("text"))).localCheckpoint(
        eager=True
    )

    # 2. Exact dedup: min-id representative per fingerprint.
    exact_reps = exact_dedup(qdocs, "text", "doc_id").select("doc_id")
    # Materialize the survivor set ONCE: sdocs feeds four downstream
    # branches (the Jaccard inverted index, the CC seed nodes, the
    # final keep semi-join, the packer) — without a cut, the whole
    # quality-gate + exact-dedup sub-DAG re-executes per branch. This
    # is the reference's stage-materialization pattern
    # (incremental_stats_engine.py:113-115 write-then-reread) with
    # executor-pinned rows instead of an HDFS round-trip.
    sdocs = semi_join(qdocs, exact_reps, ["doc_id"]).localCheckpoint(eager=True)

    # 3. Near-dup collapse: component representative (min id) survives.
    pairs = jaccard_pairs(
        sdocs, "doc_id", "text", n=3, threshold=0.5, materialize_index=True
    )
    groups = connected_components(
        sdocs.select("doc_id"), pairs.select("id_a", "id_b"), id_col="doc_id"
    )
    reps = groups.where(F.col("doc_id") == F.col("group_id")).select("doc_id")
    kept = semi_join(sdocs, reps, ["doc_id"])

    # 4. Pack the survivors into training sequences.
    return pack_sequences(
        kept, "doc_id", token_count(F.col("text")), budget=256, n_shards=8
    )


# --------------------------------------------------------------------------
# MinHash calibration — the sketch-quality report for the LSH tier:
# for every LSH candidate pair, the signature-agreement Jaccard
# ESTIMATE (fraction of equal minhash components) next to the EXACT
# shingle-set Jaccard, with the absolute error. This is how you size
# H (signature width) and the banding scheme before trusting the
# sketch at 100 TB: exact Jaccard is only ever computed on the
# LSH-bounded candidate set, never all pairs. Shares every primitive
# (md5 minhash, band keys, shingle index) with d_minhash_lsh /
# d_jaccard_pairs, so the estimate is calibrated against the exact
# tier it replaces.
# --------------------------------------------------------------------------
def _minhash_estimate_sql() -> str:
    sig_cols = ",\n               ".join(
        f"MIN(md5('{i}|' || shingle)) AS mh{i}" for i in range(_H)
    )
    band_selects = "\n        UNION ALL\n".join(
        f"""        SELECT doc_id, {b} AS band_id,
               md5(concat_ws('|', {', '.join(f'mh{b * _R + r}' for r in range(_R))})) AS band_key
        FROM sigs"""
        for b in range(_B)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(_H)
    )
    return f"""
    WITH {_SHINGLE_CTE},
    sigs AS (
        SELECT doc_id,
               {sig_cols}
        FROM idx GROUP BY doc_id
    ),
    buckets AS (
{band_selects}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM buckets a
        JOIN buckets b ON a.band_id = b.band_id AND a.band_key = b.band_key
                       AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM idx GROUP BY 1),
    shared AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS shared
        FROM cand c
        JOIN idx a ON a.doc_id = c.id_a
        JOIN idx b ON b.doc_id = c.id_b AND a.shingle = b.shingle
        GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b,
           ROUND(({agree}) / {float(_H)}, 6) AS est_jaccard,
           ROUND(COALESCE(s.shared, 0) * 1.0
                 / (za.sz + zb.sz - COALESCE(s.shared, 0)), 6) AS jaccard,
           ROUND(ABS(({agree}) / {float(_H)}
                 - COALESCE(s.shared, 0) * 1.0
                   / (za.sz + zb.sz - COALESCE(s.shared, 0))), 6) AS abs_err
    FROM cand c
    LEFT JOIN shared s ON s.id_a = c.id_a AND s.id_b = c.id_b
    JOIN sizes za ON za.doc_id = c.id_a
    JOIN sizes zb ON zb.doc_id = c.id_b
    JOIN sigs sa ON sa.doc_id = c.id_a
    JOIN sigs sb ON sb.doc_id = c.id_b
    """


@register(
    "d_minhash_estimate",
    _minhash_estimate_sql(),
    doc=f"MinHash calibration: signature-agreement Jaccard estimate vs "
    f"exact shingle Jaccard on the LSH candidate set (H={_H})",
)
def d_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.dedup import (
        minhash_signatures,
        shingle_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    # One shingle index feeds signatures, sizes, and the exact-overlap
    # join (three branches) — pin it once.
    idx = shingle_index(docs, "doc_id", "text", 3).localCheckpoint(eager=True)
    sigs = minhash_signatures(idx, "doc_id", _H).localCheckpoint(eager=True)

    from listenbrainz_server_spark.operators.dedup import minhash_band_buckets

    buckets = minhash_band_buckets(sigs, "doc_id", _H, _B)
    a = buckets.select(
        F.col("doc_id").alias("id_a"), "band_id", "band_key"
    )
    b = buckets.select(
        F.col("doc_id").alias("id_b"), "band_id", "band_key"
    )
    cand = (
        a.join(b, ["band_id", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    sizes = idx.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    ia = idx.select(F.col("doc_id").alias("id_a"), "shingle")
    ib = idx.select(F.col("doc_id").alias("id_b"), "shingle")
    shared = (
        cand.join(ia, "id_a")
        .join(ib, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )

    sa = sigs.select(
        F.col("doc_id").alias("id_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(_H)]
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(_H)]
    )
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(_H)
    )
    za = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sza"))
    zb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("szb"))

    est = F.round(agree / float(_H), 6)
    sh = F.coalesce(F.col("shared"), F.lit(0))
    exact = sh * 1.0 / (F.col("sza") + F.col("szb") - sh)
    return (
        cand.join(shared, ["id_a", "id_b"], "left")
        .join(za, "id_a")
        .join(zb, "id_b")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            est.alias("est_jaccard"),
            F.round(exact, 6).alias("jaccard"),
            F.round(F.abs(agree / float(_H) - exact), 6).alias("abs_err"),
        )
    )


# --------------------------------------------------------------------------
# Exact-dup rate by source — the corpus-health rollup run before and
# after every crawl merge: per source, raw docs vs distinct normalized
# fingerprints and the implied duplicate rate. One source-keyed agg
# over fingerprints; nothing scales beyond the groupBy.
# --------------------------------------------------------------------------
@register(
    "d_dup_rate_by_source",
    r"""
    WITH fps AS (
        SELECT source,
               md5(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fp
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
           ROUND(1.0 - COUNT(DISTINCT fp) * 1.0 / COUNT(*), 6) AS dup_rate
    FROM fps
    GROUP BY source
    """,
    doc="per-source exact-duplicate rate (docs vs distinct normalized "
    "fingerprints) — corpus-health rollup",
)
def d_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.functions.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("source", fingerprint(F.col("text")).alias("fp")).groupBy(
        "source"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("fp").alias("n_unique"),
        F.round(1.0 - F.count_distinct("fp") * 1.0 / F.count(F.lit(1)), 6).alias(
            "dup_rate"
        ),
    )


# --------------------------------------------------------------------------
# Cleaning-funnel report — observability for the composed pipeline:
# one row with the survivor count after each stage of d_clean_corpus
# (raw → quality gate → exact dedup → near-dup collapse → packed
# sequences). Every count is a 1-row aggregate frame; the frames
# cross-join broadcast-style — no driver-side collection anywhere.
# --------------------------------------------------------------------------
@register(
    "d_clean_funnel",
    r"""
    WITH RECURSIVE toksq AS (
        SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents
    ),
    uni AS (
        SELECT doc_id, w, COUNT(*) AS n
        FROM (SELECT doc_id, unnest(ws) AS w FROM toksq) GROUP BY 1, 2
    ),
    quality AS (
        SELECT doc_id FROM uni GROUP BY doc_id
        HAVING SUM(n) >= 20 AND MAX(n) * 1.0 / SUM(n) <= 0.25
    ),
    qdocs AS (
        SELECT t.doc_id, t.text, t.ws FROM toksq t
        JOIN quality q ON t.doc_id = q.doc_id
    ),
    fps AS (
        SELECT doc_id,
               md5(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fp
        FROM qdocs
    ),
    exact_reps AS (SELECT MIN(doc_id) AS doc_id FROM fps GROUP BY fp),
    sdocs AS (
        SELECT q.doc_id, q.ws FROM qdocs q JOIN exact_reps r ON q.doc_id = r.doc_id
    ),
    idx AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(range(1, len(ws) - 1),
                      i -> array_to_string(ws[i:i+2], ' '))) AS shingle
        FROM sdocs WHERE len(ws) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM idx GROUP BY 1),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b FROM shared
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.5
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    closure(id, reach) AS (
        SELECT doc_id, doc_id FROM sdocs
        UNION
        SELECT c.id, e.dst FROM closure c JOIN edges e ON c.reach = e.src
    ),
    groups AS (SELECT id AS doc_id, MIN(reach) AS group_id FROM closure GROUP BY id),
    kept AS (
        SELECT s.doc_id, CAST(len(s.ws) AS BIGINT) AS n_tokens
        FROM sdocs s JOIN groups g ON s.doc_id = g.doc_id
        WHERE g.doc_id = g.group_id
    ),
    offs AS (
        SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY doc_id % 8 ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS start_offset
        FROM kept
    )
    SELECT (SELECT COUNT(*) FROM documents) AS n_raw,
           (SELECT COUNT(*) FROM quality) AS n_quality,
           (SELECT COUNT(*) FROM sdocs) AS n_exact,
           (SELECT COUNT(*) FROM kept) AS n_final,
           (SELECT COUNT(DISTINCT (shard, CAST(FLOOR(start_offset / 256) AS BIGINT)))
            FROM offs) AS n_sequences
    """,
    doc="cleaning-funnel report: survivor counts after each stage of "
    "the composed corpus-cleaning pipeline (one row, no collects)",
)
def d_clean_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.functions.text import quality_flag, token_count
    from listenbrainz_server_spark.operators.joins import semi_join
    from listenbrainz_server_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    # Pin the quality-gated frame ONCE (fewer sequential jobs): it feeds
    # the exact-dedup build side, the survivor semi-join's left side
    # (both inside the sdocs pin job), and (in the funnel) the
    # n_quality count — the per-doc sorted-token quality expression
    # otherwise re-evaluates once per branch over the full corpus.
    qdocs = docs.where(quality_flag(F.col("text"))).localCheckpoint(
        eager=True
    )
    exact_reps = exact_dedup(qdocs, "text", "doc_id").select("doc_id")
    sdocs = semi_join(qdocs, exact_reps, ["doc_id"]).localCheckpoint(eager=True)
    pairs = jaccard_pairs(
        sdocs, "doc_id", "text", n=3, threshold=0.5, materialize_index=True
    )
    groups = connected_components(
        sdocs.select("doc_id"), pairs.select("id_a", "id_b"), id_col="doc_id"
    )
    reps = groups.where(F.col("doc_id") == F.col("group_id")).select("doc_id")
    kept = semi_join(sdocs, reps, ["doc_id"])
    packed = pack_sequences(
        kept, "doc_id", token_count(F.col("text")), budget=256, n_shards=8
    )

    n_raw = docs.agg(F.count(F.lit(1)).alias("n_raw"))
    n_quality = qdocs.agg(F.count(F.lit(1)).alias("n_quality"))
    n_exact = sdocs.agg(F.count(F.lit(1)).alias("n_exact"))
    n_final = kept.agg(F.count(F.lit(1)).alias("n_final"))
    n_seqs = packed.agg(
        F.count_distinct("shard", "seq_id").alias("n_sequences")
    )
    return (
        n_raw.crossJoin(n_quality)
        .crossJoin(n_exact)
        .crossJoin(n_final)
        .crossJoin(n_seqs)
    )


# --------------------------------------------------------------------------
# Cross-source duplication matrix — which crawls duplicate each
# other: for every source pair, how many document-HEAD fingerprints
# (md5 of the first 8 normalized words — the prefix-hash heuristic
# that catches mirrored/boilerplate-headed content whose tails
# drifted) they share. The report that decides crawl-ingest
# precedence (dedup the cheap crawl against the canonical one, not
# vice versa). Fingerprint-keyed self-join of the (source, fp)
# projection — pairs exist only where a prefix actually repeats
# across sources; canonicalized source order halves the matrix.
# --------------------------------------------------------------------------
@register(
    "d_cross_source_dups",
    r"""
    WITH fps AS (
        SELECT DISTINCT source,
               md5(array_to_string(
                   string_split(LOWER(TRIM(text)), ' ')[1:8], ' ')) AS fp
        FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_heads
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
    GROUP BY 1, 2
    """,
    doc="cross-source duplication matrix: shared document-head "
    "prefix fingerprints per source pair (crawl-precedence report)",
)
def d_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    head = F.md5(
        F.array_join(
            F.slice(F.split(F.lower(F.trim(F.col("text"))), " "), 1, 8), " "
        )
    )
    fps = docs.select("source", head.alias("fp")).distinct()
    a = fps.select(F.col("source").alias("source_a"), "fp")
    b = fps.select(F.col("source").alias("source_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_heads"))
    )


# --------------------------------------------------------------------------
# Incremental crawl dedup — the arrival-time shape of MinHash-LSH:
# a delta batch (10% hash slice) checks its band buckets against the
# EXISTING corpus's band index only. The join is delta-bands ×
# index-bands on (band_id, band_key) — work scales with the batch,
# never the corpus squared; this is what runs on every crawl ingest
# once the base index is persisted (v_incremental_index is the ANN
# analog of the same discipline).
# --------------------------------------------------------------------------
def _incremental_dedup_sql() -> str:
    sig_cols = ",\n               ".join(
        f"MIN(md5('{i}|' || shingle)) AS mh{i}" for i in range(_H)
    )
    band_selects = "\n        UNION ALL\n".join(
        f"""        SELECT doc_id, {b} AS band_id,
               md5(concat_ws('|', {', '.join(f'mh{b * _R + r}' for r in range(_R))})) AS band_key
        FROM sigs"""
        for b in range(_B)
    )
    return f"""
    WITH {_SHINGLE_CTE},
    sigs AS (
        SELECT doc_id,
               {sig_cols}
        FROM idx GROUP BY doc_id
    ),
    buckets AS (
{band_selects}
    ),
    base AS (SELECT * FROM buckets WHERE doc_id % 10 <> 3),
    delta AS (SELECT * FROM buckets WHERE doc_id % 10 = 3)
    SELECT d.doc_id AS new_id, b.doc_id AS existing_id,
           CAST(COUNT(DISTINCT b.band_id) AS BIGINT) AS shared_bands
    FROM delta d
    JOIN base b ON d.band_id = b.band_id AND d.band_key = b.band_key
    GROUP BY 1, 2
    """


@register(
    "d_incremental_dedup",
    _incremental_dedup_sql(),
    doc="incremental crawl dedup: delta batch's MinHash bands probed "
    "against the existing corpus's band index (batch-scaled work)",
)
def d_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.dedup import (
        minhash_signatures,
        shingle_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    from listenbrainz_server_spark.operators.dedup import minhash_band_buckets

    sigs = minhash_signatures(
        shingle_index(docs, "doc_id", "text", 3), "doc_id", _H
    )
    buckets = minhash_band_buckets(sigs, "doc_id", _H, _B).localCheckpoint(
        eager=True
    )

    base = buckets.where(F.col("doc_id") % 10 != 3)
    delta = buckets.where(F.col("doc_id") % 10 == 3).select(
        F.col("doc_id").alias("new_id"), "band_id", "band_key"
    )
    return (
        delta.join(base, ["band_id", "band_key"])
        .select("new_id", F.col("doc_id").alias("existing_id"), "band_id")
        .groupBy("new_id", "existing_id")
        .agg(F.count_distinct("band_id").alias("shared_bands"))
    )


# --------------------------------------------------------------------------
# Incremental verbatim-span maintenance: the span
# tier's delta-only form. New-batch docs (md5-sliced analog: doc_id %
# 10 == 3 plays the arriving crawl batch) explode at stride 1 and
# probe the EXISTING corpus's coarse positioned index — fine-gram work
# is O(batch chars), never O(corpus chars). Same delta-vs-corpus
# contract as d_incremental_dedup, at the verbatim-span tier.
# --------------------------------------------------------------------------
@register(
    "d_incremental_spans",
    """
    WITH norm AS (
        SELECT doc_id,
               TRIM(regexp_replace(LOWER(text), '[^a-z0-9]+', ' ', 'g')) AS t
        FROM documents
    ),
    cpossrc AS (
        SELECT doc_id, t, UNNEST(range(1, len(t) - 24 + 2, 8)) AS p
        FROM norm WHERE len(t) >= 24 AND doc_id % 10 <> 3
    ),
    cg AS (
        SELECT doc_id AS cid, p AS cpos, md5(substr(t, p, 24)) AS g FROM cpossrc
    ),
    fpossrc AS (
        SELECT doc_id, t, UNNEST(range(1, len(t) - 24 + 2, 1)) AS p
        FROM norm WHERE len(t) >= 24 AND doc_id % 10 = 3
    ),
    fg AS (
        SELECT doc_id AS fid, p AS fpos, md5(substr(t, p, 24)) AS g FROM fpossrc
    ),
    anch AS (
        SELECT cid AS src_id, fid AS dst_id, cpos, cpos - fpos AS diag
        FROM cg JOIN fg USING (g)
        WHERE cid <> fid
    ),
    flagged AS (
        SELECT src_id, dst_id, cpos, diag,
               CASE WHEN cpos - LAG(cpos) OVER w > 8 THEN 1 ELSE 0 END AS brk
        FROM anch
        WINDOW w AS (PARTITION BY src_id, dst_id, diag ORDER BY cpos)
    ),
    isl AS (
        SELECT src_id, dst_id, cpos, diag,
               SUM(brk) OVER (PARTITION BY src_id, dst_id, diag ORDER BY cpos
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    )
    SELECT src_id, dst_id,
           MIN(cpos) AS src_start,
           MAX(cpos) + 24 - 1 AS src_end,
           MIN(cpos) - diag AS dst_start,
           MAX(cpos) - diag + 24 - 1 AS dst_end,
           MAX(cpos) - MIN(cpos) + 24 AS span_chars,
           CAST(COUNT(*) AS BIGINT) AS n_anchors
    FROM isl
    GROUP BY src_id, dst_id, diag, island
    """,
    doc="incremental verbatim-span maintenance: new batch's stride-1 "
    "grams probe the existing corpus's coarse positioned index — "
    "batch-scaled fine-gram work, corpus-side index reusable",
)
def d_incremental_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.dedup import (
        exact_substring_spans_delta,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 3)
    delta = docs.where(F.col("doc_id") % 10 == 3)
    return exact_substring_spans_delta(corpus, delta, "doc_id", "text", k=24, stride=8)


# --------------------------------------------------------------------------
# Asymmetric containment pairs — near-dups Jaccard misses: a short doc
# fully CONTAINED in a longer one (quote expansion, excerpt pages)
# scores low on Jaccard (union is large) but high on containment
# (shared / |smaller|). Same shingle-keyed join as the Jaccard tier,
# different normalizer.
# --------------------------------------------------------------------------
@register(
    "d_containment_pairs",
    f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM idx GROUP BY 1),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(shared * 1.0 / LEAST(sa.sz, sb.sz), 6) AS containment,
           ROUND(shared * 1.0 / (sa.sz + sb.sz - shared), 6) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE shared * 1.0 / LEAST(sa.sz, sb.sz) >= 0.8
    """,
    doc="asymmetric containment near-dup pairs (shared / smaller-doc "
    "shingles >= 0.8) — catches contained excerpts Jaccard misses",
)
def d_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.dedup import shingle_index

    docs = load_table(spark, sf_dir, "documents")
    idx = shingle_index(docs, "doc_id", "text", 3).localCheckpoint(eager=True)
    sizes = idx.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = idx.select(F.col("doc_id").alias("id_a"), "shingle")
    b = idx.select(F.col("doc_id").alias("id_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    cont = F.col("shared") / F.least("sz_a", "sz_b")
    return (
        shared.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .where(cont >= 0.8)
        .select(
            "id_a",
            "id_b",
            F.round(cont, 6).alias("containment"),
            F.round(
                F.col("shared")
                / (F.col("sz_a") + F.col("sz_b") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Quality-aware dup-group collapse: within each near-dup component,
# keep the HIGHEST-quality member — not the minimum id. Min-id
# collapse (d_dup_groups / d_clean_corpus) is the cheapest canonical
# choice, but a production corpus keeps the best-written copy of a
# mirrored page, not the first-crawled one; this query emits each
# group's elected representative with its size and score. Plan: the
# same bucketed shingle pairs + connected components, then one keyed
# join to the (pure-expression) quality column and a per-group argmax
# window — the window runs on |groups| ≈ |docs| rows keyed by
# group_id, so the only new cost over d_dup_groups is one window pass.
# --------------------------------------------------------------------------
@register(
    "d_best_representative",
    f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM idx GROUP BY 1),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b FROM shared
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.5
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    closure(id, reach) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT c.id, e.dst FROM closure c JOIN edges e ON c.reach = e.src
    ),
    groups AS (SELECT id AS doc_id, MIN(reach) AS group_id FROM closure GROUP BY id),
    qtoks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
    q AS (SELECT doc_id, {QUALITY_SCORE_SQL} AS quality FROM qtoks),
    ranked AS (
        SELECT g.group_id, g.doc_id, q.quality,
               ROW_NUMBER() OVER (PARTITION BY g.group_id
                                  ORDER BY q.quality DESC, g.doc_id ASC) AS rn,
               COUNT(*) OVER (PARTITION BY g.group_id) AS group_size
        FROM groups g JOIN q ON q.doc_id = g.doc_id
    )
    SELECT group_id, doc_id AS rep_doc_id,
           CAST(group_size AS BIGINT) AS group_size,
           quality AS rep_quality
    FROM ranked WHERE rn = 1
    """,
    doc="per-dup-group argmax-quality representative election "
    "(quality-aware collapse instead of min-id)",
)
def d_best_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from listenbrainz_server_spark.functions.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, materialize_index=True
    )
    groups = connected_components(
        docs.select("doc_id"), pairs.select("id_a", "id_b"), id_col="doc_id"
    )
    q = docs.select("doc_id", quality_score(F.col("text")).alias("quality"))
    joined = groups.join(q, "doc_id")
    w_best = Window.partitionBy("group_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    w_size = Window.partitionBy("group_id")
    return (
        joined.withColumn("rn", F.row_number().over(w_best))
        .withColumn("group_size", F.count(F.lit(1)).over(w_size))
        .where(F.col("rn") == 1)
        .select(
            "group_id",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("group_size").cast("bigint"),
            F.col("quality").alias("rep_quality"),
        )
    )


# --------------------------------------------------------------------------
# Hot-shingle skew report — the dedup tier's companion to
# v_bucket_stats: the top-20 shingles by document frequency, each with
# its share of the corpus and the pair-join cost it would induce
# (df·(df-1)/2 candidate pairs from that shingle alone). This is the
# evidence a document-frequency cap on jaccard_pairs would act on: at
# 100 TB one boilerplate shingle ("all rights reserved") can otherwise dominate
# the entire candidate join. One shingle-keyed aggregate over the
# inverted index, then TakeOrdered(20) — no global sort.
# --------------------------------------------------------------------------
@register(
    "d_hot_shingles",
    f"""
    WITH {_SHINGLE_CTE},
    df AS (SELECT shingle, COUNT(*) AS doc_freq FROM idx GROUP BY shingle),
    tot AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT shingle, CAST(doc_freq AS BIGINT) AS doc_freq,
           ROUND(doc_freq * 1.0 / n_docs, 6) AS doc_share,
           CAST(doc_freq * (doc_freq - 1) // 2 AS BIGINT) AS pair_cost
    FROM df CROSS JOIN tot
    ORDER BY doc_freq DESC, shingle
    LIMIT 20
    """,
    doc="top-20 hottest shingles by document frequency with induced "
    "pair-join cost (the skew evidence for a document-frequency cap)",
)
def d_hot_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    idx = shingle_index(docs, "doc_id", "text", n=3)
    df_counts = idx.groupBy("shingle").agg(F.count(F.lit(1)).alias("doc_freq"))
    tot = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        df_counts.crossJoin(F.broadcast(tot))
        .select(
            "shingle",
            F.col("doc_freq").cast("bigint").alias("doc_freq"),
            F.round(F.col("doc_freq") * 1.0 / F.col("n_docs"), 6).alias("doc_share"),
            F.expr("CAST(doc_freq * (doc_freq - 1) DIV 2 AS BIGINT)").alias(
                "pair_cost"
            ),
        )
        .orderBy(F.col("doc_freq").desc(), "shingle")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Jaccard threshold calibration sweep — before committing a dedup
# threshold at 100 TB you want the pair-count and docs-affected curve
# it implies: too low collapses distinct documents, too high leaves
# mirrors in. ONE shingle self-join computes every candidate pair's
# exact Jaccard (>= 0.1 floor); a 9-row broadcast threshold dim then
# re-buckets the same pair table per threshold — the expensive join
# never re-runs across sweep points. Zero-pair thresholds surface as
# zero rows, not missing rows (left join back to the dim).
# --------------------------------------------------------------------------
@register(
    "d_threshold_sweep",
    f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM idx GROUP BY 1),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jp AS (
        SELECT id_a, id_b,
               ROUND(shared * 1.0 / (sa.sz + sb.sz - shared), 6) AS jaccard
        FROM shared
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.1
    ),
    th AS (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5,
                          0.6, 0.7, 0.8, 0.9]) AS threshold),
    hits AS (
        SELECT th.threshold, jp.id_a, jp.id_b
        FROM th JOIN jp ON jp.jaccard >= th.threshold
    ),
    pair_counts AS (
        SELECT threshold, COUNT(*) AS n_pairs FROM hits GROUP BY 1
    ),
    doc_counts AS (
        SELECT threshold, COUNT(DISTINCT id) AS n_docs FROM (
            SELECT threshold, id_a AS id FROM hits
            UNION ALL
            SELECT threshold, id_b AS id FROM hits
        ) GROUP BY 1
    )
    SELECT t.threshold,
           CAST(COALESCE(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(dc.n_docs, 0) AS BIGINT) AS n_docs_affected
    FROM th t
    LEFT JOIN pair_counts pc ON pc.threshold = t.threshold
    LEFT JOIN doc_counts dc ON dc.threshold = t.threshold
    """,
    doc="dedup threshold calibration: pair count + docs affected at "
    "each Jaccard cut, from ONE candidate-pair join",
)
def d_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    jp = jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.1, materialize_index=True
    ).localCheckpoint(eager=True)  # one join feeds all 9 sweep points
    thresholds = [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]
    th = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in thresholds])).alias("threshold")
    )
    hits = F.broadcast(th).join(jp, jp.jaccard >= th.threshold).select(
        "threshold", "id_a", "id_b"
    )
    pair_counts = hits.groupBy("threshold").agg(F.count(F.lit(1)).alias("n_pairs"))
    doc_counts = (
        hits.select("threshold", F.col("id_a").alias("id"))
        .unionByName(hits.select("threshold", F.col("id_b").alias("id")))
        .groupBy("threshold")
        .agg(F.count_distinct("id").alias("n_docs"))
    )
    return (
        th.join(pair_counts, "threshold", "left")
        .join(doc_counts, "threshold", "left")
        .select(
            "threshold",
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce(F.col("n_docs"), F.lit(0))
            .cast("bigint")
            .alias("n_docs_affected"),
        )
    )


# --------------------------------------------------------------------------
# LSH parameter planner — the S-curve self-tuning step: for every
# (bands, rows) factorization of the H=16 minhash budget, the
# collision probability curve is p(t) = 1 - (1 - t^rows)^bands, and
# its midpoint t50 = (1 - 0.5^(1/bands))^(1/rows) is where candidate
# recall crosses 50%. The planner reports each config's midpoint and
# flags the one whose midpoint sits closest to the d_minhash_lsh
# target threshold (0.5) — the analytic rule that picks banding
# BEFORE paying for an index build. Generated 5-row dim, pure math,
# zero table scans.
# --------------------------------------------------------------------------
@register(
    "d_lsh_scurve",
    """
    WITH configs AS (
        SELECT unnest([1, 2, 4, 8, 16]) AS bands
    ),
    curves AS (
        SELECT bands, CAST(16 / bands AS INT) AS rows_per_band,
               ROUND(POWER(1.0 - POWER(0.5, 1.0 / bands),
                           1.0 / (16 / bands)), 6) AS t50
        FROM configs
    ),
    ranked AS (
        SELECT bands, rows_per_band, t50,
               ROW_NUMBER() OVER (ORDER BY ABS(t50 - 0.5), bands) AS rn
        FROM curves
    )
    SELECT CAST(bands AS INT) AS bands, rows_per_band, t50,
           (rn = 1) AS selected
    FROM ranked
    """,
    doc="LSH banding planner: S-curve midpoint per (bands, rows) "
    "config, closest-to-target flagged (analytic, no index build)",
)
def d_lsh_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    bands = [1, 2, 4, 8, 16]
    cfg = spark.range(1).select(
        F.explode(F.array(*[F.lit(b) for b in bands])).alias("bands")
    )
    curves = cfg.select(
        F.col("bands").cast("int").alias("bands"),
        (16 / F.col("bands")).cast("int").alias("rows_per_band"),
        F.round(
            F.pow(
                1.0 - F.pow(F.lit(0.5), 1.0 / F.col("bands")),
                F.col("bands") / 16.0,
            ),
            6,
        ).alias("t50"),
    )
    w = Window.orderBy(F.abs(F.col("t50") - 0.5), F.col("bands"))
    return curves.withColumn("rn", F.row_number().over(w)).select(
        "bands", "rows_per_band", "t50", (F.col("rn") == 1).alias("selected")
    )


# --------------------------------------------------------------------------
# Fuzzy string join (edit distance ≤ 1) — entity resolution without a
# quadratic comparison: the SymSpell/deletion-neighborhood trick.
# Each string expands to itself plus every single-character deletion;
# two strings within edit distance 1 (insert/delete/substitute) MUST
# share a variant, so an equi join on the variant string finds every
# candidate and an exact levenshtein filter removes the (distance-2)
# false positives. Per-string fan-out is |s|+1 variants — linear, and
# the join shuffles on variant keys, never all-pairs. The "dirty"
# side is a deterministic perturbation of every 3rd customer name
# (drop the (key mod len)-th char) so the oracle reproduces the same
# fixture — the st_stream_dedup duplicate-injection pattern.
# --------------------------------------------------------------------------
@register(
    "d_fuzzy_match",
    """
    WITH pert AS (
        SELECT c_custkey AS pid,
               SUBSTR(c_name, 1, pos - 1) || SUBSTR(c_name, pos + 1) AS pname
        FROM (SELECT c_custkey, c_name,
                     (c_custkey % (LENGTH(c_name) - 1)) + 1 AS pos
              FROM customer WHERE c_custkey % 3 = 0)
    ),
    lvars AS (
        SELECT c_custkey AS lid, c_name AS lname,
               unnest(list_prepend(c_name,
                   list_transform(range(1, LENGTH(c_name) + 1),
                       i -> SUBSTR(c_name, 1, i - 1) || SUBSTR(c_name, i + 1))))
                   AS v
        FROM customer
    ),
    rvars AS (
        SELECT pid, pname,
               unnest(list_prepend(pname,
                   list_transform(range(1, LENGTH(pname) + 1),
                       i -> SUBSTR(pname, 1, i - 1) || SUBSTR(pname, i + 1))))
                   AS v
        FROM pert
    ),
    cands AS (
        SELECT DISTINCT l.lid, l.lname, r.pid, r.pname
        FROM lvars l JOIN rvars r ON l.v = r.v
    )
    SELECT lid, pid, CAST(levenshtein(lname, pname) AS INT) AS distance
    FROM cands
    WHERE levenshtein(lname, pname) <= 1
    """,
    doc="edit-distance-1 fuzzy join via deletion-neighborhood "
    "variants + exact levenshtein verify (SymSpell-style, never "
    "all-pairs)",
)
def d_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")

    def deletion_variants(s):
        return F.array_union(
            F.array(s),
            F.transform(
                F.sequence(F.lit(1), F.length(s)),
                lambda i: F.concat(
                    F.substr(s, F.lit(1), i - 1), F.substr(s, i + 1, F.length(s))
                ),
            ),
        )

    pos = (F.col("c_custkey") % (F.length("c_name") - 1) + 1).cast("int")
    pert = cust.where(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("pid"),
        F.concat(
            F.substr(F.col("c_name"), F.lit(1), pos - 1),
            F.substr(F.col("c_name"), pos + 1, F.length("c_name")),
        ).alias("pname"),
    )
    lvars = cust.select(
        F.col("c_custkey").alias("lid"),
        F.col("c_name").alias("lname"),
        F.explode(deletion_variants(F.col("c_name"))).alias("v"),
    )
    rvars = pert.select(
        "pid", "pname", F.explode(deletion_variants(F.col("pname"))).alias("v")
    )
    cands = lvars.join(rvars, "v").select("lid", "lname", "pid", "pname").distinct()
    return cands.where(F.levenshtein("lname", "pname") <= 1).select(
        "lid", "pid", F.levenshtein("lname", "pname").cast("int").alias("distance")
    )


# --------------------------------------------------------------------------
# Duplicated-text coverage per document — the roll-up a corpus owner
# actually acts on after d_substring_spans: what FRACTION of each
# doc's normalized text is covered by verbatim runs shared with any
# other doc (the "mostly boilerplate" kill signal). Requires a true
# INTERVAL UNION per doc (spans from different partners overlap):
# spans sort per doc, a span starting past the running max end opens a
# new island (gaps-and-islands again, doc-keyed), and covered chars =
# Σ island extents. Every window partitions by doc — bounded by one
# doc's span count, never the corpus.
# --------------------------------------------------------------------------
@register(
    "d_dup_span_coverage",
    """
    WITH norm AS (
        SELECT doc_id,
               TRIM(regexp_replace(LOWER(text), '[^a-z0-9]+', ' ', 'g')) AS t
        FROM documents
    ),
    wfp AS (
        SELECT doc_id, UNNEST(list_distinct(list_transform(
                   range(1, greatest(1, len(t) - 24 + 1 - 8 + 1) + 1),
                   i -> list_min(list_transform(
                       range(i, least(i + 8 - 1, len(t) - 24 + 1) + 1),
                       j -> md5(substr(t, j, 24))))))) AS fp
        FROM norm WHERE len(t) >= 24
    ),
    cand AS (
        SELECT DISTINCT doc_id FROM wfp
        WHERE fp IN (SELECT fp FROM wfp GROUP BY fp HAVING COUNT(*) >= 2)
    ),
    cpossrc AS (
        SELECT doc_id, t, UNNEST(range(1, len(t) - 24 + 2, 8)) AS p
        FROM norm WHERE len(t) >= 24
          AND doc_id IN (SELECT doc_id FROM cand)
    ),
    cg AS (
        SELECT doc_id AS cid, p AS cpos, md5(substr(t, p, 24)) AS g FROM cpossrc
    ),
    fpossrc AS (
        SELECT doc_id, t, UNNEST(range(1, len(t) - 24 + 2, 1)) AS p
        FROM norm WHERE len(t) >= 24
          AND doc_id IN (SELECT doc_id FROM cand)
    ),
    fg AS (
        SELECT doc_id AS fid, p AS fpos, md5(substr(t, p, 24)) AS g FROM fpossrc
    ),
    anch AS (
        SELECT cid AS src_id, fid AS dst_id, cpos, cpos - fpos AS diag
        FROM cg JOIN fg USING (g)
        WHERE cid <> fid
    ),
    flagged AS (
        SELECT src_id, dst_id, cpos, diag,
               CASE WHEN cpos - LAG(cpos) OVER w > 8 THEN 1 ELSE 0 END AS brk
        FROM anch
        WINDOW w AS (PARTITION BY src_id, dst_id, diag ORDER BY cpos)
    ),
    isl AS (
        SELECT src_id, dst_id, cpos, diag,
               SUM(brk) OVER (PARTITION BY src_id, dst_id, diag ORDER BY cpos
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    ),
    spans AS (
        SELECT src_id, MIN(cpos) AS s, MAX(cpos) + 24 - 1 AS e
        FROM isl GROUP BY src_id, dst_id, diag, island
    ),
    sdis AS (
        -- DISTINCT is load-bearing: the same (s, e) span recurs once
        -- per (dst, diag) it matched, and the brk/prefix-sum island
        -- pattern needs a TOTAL order — with tied rows, the brk
        -- computed under one physical order can land elsewhere in the
        -- next window's order and double-count an island.
        SELECT DISTINCT src_id, s, e FROM spans
    ),
    sflag AS (
        SELECT src_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (
                        PARTITION BY src_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -1) + 1
                    THEN 1 ELSE 0 END AS brk
        FROM sdis
    ),
    sisl AS (
        SELECT src_id, s, e,
               SUM(brk) OVER (PARTITION BY src_id ORDER BY s, e
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM sflag
    ),
    cov AS (
        SELECT src_id, SUM(me - ms + 1) AS covered FROM (
            SELECT src_id, island, MIN(s) AS ms, MAX(e) AS me
            FROM sisl GROUP BY src_id, island) i
        GROUP BY src_id
    )
    SELECT c.src_id AS doc_id,
           CAST(c.covered AS BIGINT) AS covered_chars,
           CAST(len(n.t) AS BIGINT) AS total_chars,
           ROUND(c.covered * 1.0 / len(n.t), 6) AS dup_fraction
    FROM cov c JOIN norm n ON n.doc_id = c.src_id
    """,
    doc="per-doc duplicated-text coverage: interval UNION of all "
    "verbatim spans shared with any other doc / normalized length",
)
def d_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from listenbrainz_server_spark.operators.dedup import exact_substring_spans

    docs = load_table(spark, sf_dir, "documents")
    # DISTINCT is load-bearing (see the oracle's sdis comment): the
    # same span recurs per (dst, diag) match, and the two-stage
    # brk/prefix-sum island pattern is only deterministic under a
    # total order — (s, e) must be unique within each src_id.
    spans = (
        exact_substring_spans(docs, "doc_id", "text", k=24, stride=8)
        .select("src_id", F.col("src_start").alias("s"), F.col("src_end").alias("e"))
        .distinct()
    )
    w = Window.partitionBy("src_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = spans.withColumn(
        "brk",
        F.when(F.col("s") > F.coalesce(prev_max_e, F.lit(-1)) + 1, 1).otherwise(0),
    )
    isl = flagged.withColumn(
        "island",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    cov = (
        isl.groupBy("src_id", "island")
        .agg((F.max("e") - F.min("s") + 1).alias("ext"))
        .groupBy("src_id")
        .agg(F.sum("ext").alias("covered"))
    )
    norm_len = docs.select(
        "doc_id",
        F.length(
            F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
        ).alias("tlen"),
    )
    return cov.join(norm_len, cov["src_id"] == norm_len["doc_id"]).select(
        F.col("src_id").alias("doc_id"),
        F.col("covered").cast("bigint").alias("covered_chars"),
        F.col("tlen").cast("bigint").alias("total_chars"),
        F.round(F.col("covered") * 1.0 / F.col("tlen"), 6).alias("dup_fraction"),
    )


# --------------------------------------------------------------------------
# d_cdc_chunks: content-defined chunking dedup report
# (operators/chunking.py — Gear rolling hash, LBFS/FastCDC family).
# Sub-document granularity closes the gap between d_exact_dedup
# (whole-doc only) and the span queries (pairwise): a boilerplate
# paragraph shared by thousands of pages dedups at chunk level with
# ONE groupBy(chunk_hash) — no pair enumeration at all. Chunking is a
# pure map stage (no shuffle); boundaries are content-local, so an
# edit re-chunks only its neighborhood (shift-invariance pinned in
# tests). Registered form (a value oracle): per-source
# chunk census where n_chunks is an EXACTLY RECOMPUTED value — the
# oracle REPLAYS the full Gear rolling hash in SQL: the 127-entry
# gear table is derived in-query (gear[b] = first 16 hex chars of
# md5(byte b), the same derivation as operators/chunking._GEAR —
# DuckDB's md5 only takes VARCHAR, which is sufficient because the
# fixture corpus is pure ASCII at every scale, strlen ==
# octet_length, so chr(b) round-trips the byte), and a recursive CTE
# advances every document one byte per iteration carrying
# (h, chunk_start, n_chunks) state with h tracked in HUGEINT mod
# 2^64. Cut rule identical to chunk_text: low-6-bits-zero at
# length >= 32, force-cut at 192, trailing remainder chunk. The
# conservation/bounds audits stay as booleans; the cross-doc
# dup-chunk signal (one groupBy(chunk_hash)) is exercised in the
# pytest pin, where boilerplate injection must surface as shared
# chunk hashes.
# --------------------------------------------------------------------------
@register(
    "d_cdc_chunks",
    """
    WITH RECURSIVE gear AS (
        SELECT list(
            CAST(CAST(concat('0x', substr(md5(chr(CAST(b AS INT))), 1, 16))
                      AS UBIGINT) AS HUGEINT) ORDER BY b) AS g
        FROM range(1, 128) t(b)
    ),
    docs_b AS (
        SELECT doc_id, strlen(text) AS n, text FROM documents
    ),
    steps AS (
        SELECT doc_id, n, text, 1 AS i, CAST(0 AS HUGEINT) AS h,
               0 AS start, 0 AS n_chunks
        FROM docs_b
        UNION ALL
        SELECT doc_id, n, text, i + 1,
               CASE WHEN cut THEN CAST(0 AS HUGEINT) ELSE h2 END,
               CASE WHEN cut THEN i ELSE start END,
               n_chunks + CASE WHEN cut THEN 1 ELSE 0 END
        FROM (
            SELECT doc_id, n, text, i, start, n_chunks, h2,
                   ((i - start >= 32) AND (h2 % 64 = 0))
                   OR (i - start >= 192) AS cut
            FROM (
                SELECT s.*,
                       (h * 2 + g[ascii(s.text[i])])
                           % CAST(18446744073709551616 AS HUGEINT) AS h2
                FROM steps s, gear
                WHERE i <= n
            ) q
        ) q2
    ),
    per_doc AS (
        SELECT doc_id,
               n_chunks + CASE WHEN start < n THEN 1 ELSE 0 END AS nc
        FROM steps WHERE i = n + 1
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(strlen(d.text)) AS BIGINT) AS total_bytes,
           CAST(SUM(p.nc) AS BIGINT) AS n_chunks,
           TRUE AS bytes_conserved,
           TRUE AS bounds_ok
    FROM documents d JOIN per_doc p USING (doc_id)
    GROUP BY d.source
    ORDER BY d.source
    """,
    doc="content-defined chunking census per source (Gear CDC, "
    "min 32 / avg ~96 / max 192 bytes): n_chunks is a full value "
    "oracle -- DuckDB replays the entire Gear rolling hash (in-query "
    "md5-derived gear table, recursive CTE one byte per iteration, "
    "HUGEINT mod-2^64 state) and recounts every boundary; hash-gated "
    "booleans audit byte conservation and [min,max] bounds; "
    "chunk-hash cross-doc dup share is the sub-document dedup route "
    "(one groupBy, no pair work); boundary exactness, shift "
    "invariance and boilerplate detection pytest-pinned",
)
def d_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.chunking import cdc_chunks

    MIN_LEN, MAX_LEN = 32, 192
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.octet_length("text").alias("n_bytes")
    )
    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = cdc_chunks(raw, "doc_id", "text")

    # Per-doc audit: bytes conserve exactly; only the terminal chunk
    # may be shorter than MIN_LEN (a mid-doc cut requires >= MIN_LEN
    # by construction -- the audit would catch a regression); nothing
    # exceeds MAX_LEN.
    short = F.col("chunk_len") < MIN_LEN
    per_doc = chunks.groupBy("doc_id").agg(
        F.sum("chunk_len").alias("chunk_bytes"),
        F.count(F.lit(1)).alias("nc"),
        F.max("chunk_len").alias("max_len"),
        F.count_if(short).alias("n_short"),
        F.max(F.when(short, F.col("chunk_idx"))).alias("short_idx"),
        F.max("chunk_idx").alias("last_idx"),
    )
    audited = docs.join(per_doc, "doc_id", "left").select(
        "source",
        "n_bytes",
        F.coalesce("nc", F.lit(0)).alias("nc"),
        (F.coalesce("chunk_bytes", F.lit(0)) == F.col("n_bytes")).alias(
            "conserved"
        ),
        (
            (F.coalesce("max_len", F.lit(0)) <= MAX_LEN)
            & (F.coalesce("n_short", F.lit(0)) <= 1)
            & (
                F.col("short_idx").isNull()
                | (F.col("short_idx") == F.col("last_idx"))
            )
        ).alias("bounded"),
    )
    return (
        audited.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
            # Exact boundary count — the oracle replays the full Gear
            # rolling hash in SQL and recounts it.
            F.sum("nc").cast("bigint").alias("n_chunks"),
            F.every(F.col("conserved")).alias("bytes_conserved"),
            F.every(F.col("bounded")).alias("bounds_ok"),
        )
        .orderBy("source")
    )
