"""Vector similarity-search operators.

Generalizes the reference's similarity machinery — DIMSUM user-user
cosine (similarity/user.py:89-115) and session-based item similarity
(similarity/recording/common.py:59-132) — into embedding-column ops:

- brute-force cosine top-k: the exactness baseline. All-pairs equi-
  free join; O(n²·d). Correct at any scale but only affordable for
  the re-rank stage or small candidate sets.
- sign-LSH (random-hyperplane) bucketed top-k: the scale path.
  Hyperplanes are deterministic ±1 vectors derived from md5 hex chars,
  so any engine reproduces the same buckets. Candidates share a
  ``sig_bits``-bit signature bucket; exact cosine re-ranks within the
  bucket. Cost ~O(n·2^-bits·n) per bucket instead of O(n²).
- IVF-style partitioned search: vectors pre-bucketed by a coarse key
  (here the ``label`` cluster column / or LSH signature), searched
  within the probe's own bucket only.

All arithmetic in DOUBLE, summed in array order — both Spark's
``aggregate`` and DuckDB's ``list_sum(list_transform(...))`` fold
left-to-right, so scores agree to the last ulp and ROUND(6) is stable.

Scale notes: the brute-force join shuffles n×n rows — never run it
raw at 100 TB; the LSH signature is computed in one projection pass
(no shuffle), and the bucket self-join shuffles only on the signature
key. Embedding norms are precomputed once and reused.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from listenbrainz_server_spark.operators.topk import top_k_per_group

# Every score these operators return is ROUNDed to 6 places, the
# precision the DuckDB oracles compare at.
ROUND_DP = 6
# Seed of every driver-side trainer (k-means init, PQ/OPQ codebooks).
SEED = 45
# Rows of the content-hash training sample the driver-side trainers
# pull (coarse trainers raise it to 40 per centroid).
TRAIN_SAMPLE_CAP = 4096


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def as_double_sql(col_name: str) -> str:
    """SQL fragment equal to ``as_double(F.col(col_name))`` — for the
    string fast paths of ``lsh_signature``/``_probe_sig_array``: a
    signature is sig_bits × dims literal components, and
    building it as nested Column ops costs one py4j round trip PER
    NODE (measured 0.75 s of pure driver time at dims=64, bits=9,
    per construction, before any Spark job). One F.expr parses the
    whole thing JVM-side in ~6 ms, to byte-identical expressions."""
    return f"transform(`{col_name}`, x -> CAST(x AS DOUBLE))"


def dot(a: Column, b: Column) -> Column:
    """Dot product, left-to-right double accumulation."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def unit_vectors(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    pin: bool = False,
) -> DataFrame:
    """(vid, vec) with ``vec`` unit-normalized and zero-norm rows
    dropped (no cosine exists for them; downstream trainers/encoders
    would NaN-poison).

    The input is repartitioned to ``defaultParallelism`` first — a
    single-file source otherwise serializes every downstream stage on
    one task, INCLUDING iterative trainers fit on a checkpointed frame
    (localCheckpoint preserves the 1-partition layout). A fixed count
    would SHRINK a many-split scan on a real cluster and over-split on
    the driver's low-core scaling legs.

    ``pin`` (MEASURE per site — defaulting this to True once cost
    v_ivfpq_topk +1.6 s and d_semdedup +1.8 s in redundant eager
    jobs): True materializes the norm through an eager
    checkpoint before the per-element divide, so CollapseProject can't
    inline the aggregate norm into the transform lambda (re-evaluated
    64× per row). Worth it ONLY when the returned frame itself feeds
    multiple consumers with no pin of its own (pq_topk, measured). If
    the caller checkpoints a derived frame immediately (feats pins in
    ivfpq/semdedup) or consumes it in one linear pass (encode), the
    64×-norm single pass is CHEAPER than an extra job — leave False.
    """
    raw = vectors.select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("raw")
    )
    raw = raw.repartition(vectors.sparkSession.sparkContext.defaultParallelism)
    if not pin:
        return raw.where(norm(F.col("raw")) != 0).select(
            "vid", F.transform("raw", lambda x: x / norm(F.col("raw"))).alias("vec")
        )
    pre = (
        raw.select("vid", "raw", norm(F.col("raw")).alias("nrm"))
        .where(F.col("nrm") != 0)
        .localCheckpoint(eager=True)
    )
    return pre.select(
        "vid", F.transform("raw", lambda x: x / F.col("nrm")).alias("vec")
    )


# Rows of the reference side broadcast per block. 100k × 64 dims ×
# 8 B ≈ 50 MB per broadcast — executor-friendly; override down in tests
# to exercise the multi-block path on small fixtures.
DEFAULT_BLOCK_ROWS = 100_000


def resolve_n_centroids(n_centroids, vectors: DataFrame) -> int:
    """Resolve the IVF coarse-quantizer list count.

    ``"auto"`` → ``max(8, round(sqrt(n)))`` — the measured scale dial
    (SCALING.md): with nlist FIXED, per-bucket population grows
    O(n/nlist) and probe-candidate volume O(n²/nlist); growing nlist
    with √n (FAISS practice) keeps bucket population √n-bounded —
    re-measured at sf1, 132.7 s → 44.4 s for the OPQ-IVFPQ serving
    composition. Costs one count() job; integer values pass through
    untouched (the fixture-pinned audit tiers stay at their tuned
    recall floors)."""
    if n_centroids == "auto":
        import math

        return max(8, int(round(math.sqrt(vectors.count()))))
    return int(n_centroids)


def resolve_oversample(oversample, n_probe: int) -> int:
    """Resolve IVFPQ's ADC re-rank budget. ``"auto"`` →
    max(8, 2·n_probe) — the third dial leg (found by the recall
    smoke's relative guard): per-query ADC candidate volume grows
    with the probe budget (n_probe·n/nlist), so a FIXED oversample
    re-ranks a shrinking fraction of an increasingly noisy candidate
    pool — at the sf0.1 auto pair (nlist=45, n_probe=7) IVFPQ
    retained only 79% of plain IVF's recall at oversample=8 vs 92%
    at 16 (sweep: 8→0.426, 16→0.498, 24→0.527, 32→0.538 against IVF
    0.541; clustered sf1 reads 0.9997 at any setting). Tying the
    re-rank budget to the probe budget keeps both dials on one knob;
    the re-rank join stays oversample·k = O(n^(1/4)) rows per query.
    Integers pass through untouched (fixture-pinned audits keep
    their tuned budgets)."""
    if oversample == "auto":
        return max(8, 2 * n_probe)
    return int(oversample)


def resolve_n_probe(n_probe, nlist: int) -> int:
    """Resolve the IVF probe count. ``"auto"`` → max(2, round(√nlist))
    — the probe half of the scale dial (found by the sf1 recall
    smoke): with nlist ∝ √n, a FIXED probe count scans a vanishing
    fraction of the lists and recall decays exactly on weakly
    clustered data (measured, sf0.1 uniform-ish fixture at the auto
    dial's nlist=45: recall@5 0.27 at n_probe=2 vs 0.54 at √nlist=7;
    the clustered sf1 corpus reads 0.976 even at 2). Probing √nlist
    keeps total candidate volume at n²·√nlist/nlist = n²/n^(1/4) =
    n^(7/4) — still sublinear vs brute force — while recall stays on
    the measured knee (tools/recall_smoke.py re-measures both scales
    per run and SCALING.json records the readings). Integer values
    pass through untouched (fixture-pinned audits keep their tuned
    budgets)."""
    if n_probe == "auto":
        return max(2, int(round(nlist**0.5)))
    return int(n_probe)


def _scratch_root(spark) -> str:
    """Resolve the staging location for multi-stage operators.

    Order: Spark conf ``spark.lbs.scratchDir`` → env ``LBS_SCRATCH_DIR``
    → a driver-local tempdir. The first two accept any Hadoop-compatible
    URI (hdfs://, s3a://, shared NFS mount) and one of them is REQUIRED
    on a multi-node cluster: executors write the staged data, so the
    path must be visible to every node. The tempdir fallback is correct
    only where driver and executors share a filesystem (local mode /
    single-node), which is the test harness's situation.
    """
    import tempfile

    configured = spark.conf.get("spark.lbs.scratchDir", None)
    if not configured:
        import os

        configured = os.environ.get("LBS_SCRATCH_DIR")
    return configured or tempfile.mkdtemp(prefix="lbs_scratch_")


def _hadoop_delete(spark, path: str) -> None:
    """Recursive delete through the Hadoop FileSystem API — works for
    any scheme the cluster can reach (hdfs://, s3a://, file:/), unlike
    driver-side shutil which only sees the driver's local disk."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(jpath, True)


def _iter_ref_blocks(
    vectors: DataFrame, id_col: str, vec_col: str, block_rows: int
):
    """Yield broadcasts of hash-partitioned reference blocks.

    Each iteration materializes ONLY one block on the driver
    (≤ block_rows rows), broadcasts it, and hands it to the caller —
    which must finish executing against it before the next iteration so
    at most one block's matrix is live at a time. This is the blocked
    broadcast loop that keeps exact search viable when the corpus itself
    no longer fits on the driver: driver memory is bounded by
    block_rows, never by corpus size.

    Read amplification: the corpus is scanned ONCE —
    a single hash-partitioned write materializes every block as its own
    partition directory; each loop iteration then reads only its block's
    files (partition pruning on the ``blk`` filter, no refilter of the
    full corpus). Total I/O is one scan + one write + one read,
    independent of n_blocks.

    Staging location: blocks land under ``_scratch_root`` —
    configure ``spark.lbs.scratchDir`` (or ``LBS_SCRATCH_DIR``) to a
    shared filesystem on a multi-node cluster; the driver never probes
    the path with local-FS calls (reads go through Spark with partition
    pruning, cleanup through the Hadoop FS API), so any URI scheme the
    executors can reach works.
    """
    import uuid

    import numpy as np

    def _to_broadcast(sc, pdf):
        ids = pdf[id_col].to_numpy()
        mat = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        return sc.broadcast((ids, mat))

    spark = vectors.sparkSession
    sc = spark.sparkContext
    n = vectors.count()
    n_blocks = max(1, -(-n // block_rows))
    if n_blocks == 1:
        pdf = vectors.select(id_col, vec_col).toPandas()
        if len(pdf):
            yield _to_broadcast(sc, pdf)
        return

    # NOTE: partition column must not start with "_" — underscore-
    # prefixed paths are hidden from Hadoop file listings.
    blocks_path = _scratch_root(spark).rstrip("/") + (
        f"/bf_ref_blocks_{uuid.uuid4().hex}"
    )
    try:
        (
            vectors.select(id_col, vec_col)
            .withColumn("blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)))
            .write.partitionBy("blk")
            .parquet(blocks_path)
        )
        staged = spark.read.parquet(blocks_path)
        for blk in range(n_blocks):
            # Filter on the partition column → Spark prunes to the one
            # block directory; an empty result (no ids hashed to blk)
            # simply yields nothing — no filesystem existence probe.
            pdf = (
                staged.where(F.col("blk") == blk)
                .select(id_col, vec_col)
                .toPandas()
            )
            if len(pdf) == 0:
                continue
            yield _to_broadcast(sc, pdf)
    finally:
        _hadoop_delete(spark, blocks_path)


def _materialize_partial(df: DataFrame, bcast) -> DataFrame:
    """Execute a per-block partial NOW (so the block's broadcast can be
    released before the next block is pulled) and return the pinned
    result. localCheckpoint stores only the partial's output rows
    (≤ n_query × k per block), distributed across executors."""
    out = df.localCheckpoint(eager=True)
    bcast.unpersist()
    return out


def brute_force_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    block_rows: int = DEFAULT_BLOCK_ROWS,
) -> DataFrame:
    """Exact cosine top-k neighbors for every vector.

    Blocked broadcast loop: the reference side is split into
    hash-partitioned blocks of ≤ block_rows rows; each block is
    collected, broadcast, and matmul'd (Arrow-batched mapInPandas,
    BLAS) against every query batch, emitting that block's exact top-k
    per query row; per-block partials are materialized eagerly (so one
    block matrix is live at a time) and a final window re-rank merges
    them into the global top-k. No n² shuffle ever materializes, and
    driver memory is bounded by one block — not the corpus (the
    crossJoin formulation is ~30× slower: higher-order-function dot
    products run interpreted per element).

    Exactness across blocks: per-block candidates are the block's true
    top-k under the total order (rounded score desc, neighbor id asc),
    and the global top-k is a subset of the union of per-block top-ks.

    Ranking is on the ROUNDed score with neighbor-id tie-break, so
    results are engine-comparable.
    """
    import numpy as np
    import pandas as pd

    query_side = vectors.select(id_col, vec_col)
    partials: list[DataFrame] = []
    blocks = list(_iter_ref_blocks(vectors, id_col, vec_col, block_rows))
    multi_block = len(blocks) > 1

    for b in blocks:

        def topk_batches(batches, b=b):
            ref_ids, ref = b.value
            n_ref = len(ref_ids)
            m = min(k + 32, n_ref)  # partition margin for rounded-score ties
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                qids = pdf[id_col].to_numpy()
                q = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
                q = q / np.linalg.norm(q, axis=1, keepdims=True)
                scores = np.round(q @ ref.T, ROUND_DP)
                scores[qids[:, None] == ref_ids[None, :]] = -np.inf  # exclude self
                # Top-m by value first (O(N) per row), exact (score desc,
                # id asc) ordering resolved inside the small candidate set.
                part = np.argpartition(-scores, min(m, n_ref) - 1, axis=1)[:, :m]
                out_q, out_n, out_s = [], [], []
                for i in range(len(qids)):
                    row, cand = scores[i], part[i]
                    # lexsort keys: least-significant first → (id, -score).
                    cand = cand[np.lexsort((ref_ids[cand], -row[cand]))]
                    kth = row[cand[min(k, len(cand)) - 1]]
                    if (row >= kth).sum() > m:
                        # Rounded-score tie spans the partition margin —
                        # rare; fall back to a full-row sort for exactness.
                        full = np.lexsort((ref_ids, -row))
                        cand = full[: max(k, (row >= kth).sum())]
                    sel = cand[:k]
                    sel = sel[row[sel] > -np.inf]
                    out_q.extend([qids[i]] * len(sel))
                    out_n.extend(ref_ids[sel])
                    out_s.extend(row[sel])
                yield pd.DataFrame({"qid": out_q, "nid": out_n, "score": out_s})

        partial = query_side.mapInPandas(
            topk_batches, schema="qid bigint, nid bigint, score double"
        )
        if multi_block:
            partial = _materialize_partial(partial, b)
        partials.append(partial)

    merged = partials[0]
    for p in partials[1:]:
        merged = merged.unionByName(p)
    return top_k_per_group(
        merged,
        partition_by=["qid"],
        order_by=[F.col("score").desc(), F.col("nid").asc()],
        k=k,
        rank_col="rank",
    ).select("qid", "nid", "score", F.col("rank").cast("bigint").alias("rank"))


def neardup_pairs(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_rows: int = DEFAULT_BLOCK_ROWS,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, score ≥
    threshold) via the same blocked broadcast-matmul loop: pair
    predicates are block-local, so the union of per-block pair sets IS
    the global answer — no re-rank stage needed."""
    import numpy as np
    import pandas as pd

    query_side = vectors.select(id_col, vec_col)
    partials: list[DataFrame] = []
    blocks = list(_iter_ref_blocks(vectors, id_col, vec_col, block_rows))
    multi_block = len(blocks) > 1

    for b in blocks:

        def pair_batches(batches, b=b):
            ref_ids, ref = b.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                qids = pdf[id_col].to_numpy()
                q = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
                q = q / np.linalg.norm(q, axis=1, keepdims=True)
                scores = q @ ref.T
                qi, ni = np.nonzero(
                    (scores >= threshold) & (qids[:, None] < ref_ids[None, :])
                )
                yield pd.DataFrame(
                    {
                        "id_a": qids[qi],
                        "id_b": ref_ids[ni],
                        "score": np.round(scores[qi, ni], ROUND_DP),
                    }
                )

        partial = query_side.mapInPandas(
            pair_batches, schema="id_a bigint, id_b bigint, score double"
        )
        if multi_block:
            partial = _materialize_partial(partial, b)
        partials.append(partial)

    merged = partials[0]
    for p in partials[1:]:
        merged = merged.unionByName(p)
    return merged


def hyperplane_component(h: int, d: int) -> int:
    """Deterministic ±1 hyperplane component from md5 — engine-free.

    Uses hex char 0 of md5('h|d'): 0-7 → -1, 8-f → +1.
    """
    import hashlib

    ch = hashlib.md5(f"{h}|{d}".encode()).hexdigest()[0]
    return -1 if ch in "01234567" else 1


TARGET_BUCKET_ROWS = 64


def sized_sig_bits(n_rows: int) -> int:
    """Sign-LSH signature sizing rule:

        sig_bits = clamp(ceil(log2(n / TARGET_BUCKET_ROWS)), 4, 24)

    The in-bucket exact re-rank is quadratic in bucket population, and
    expected population is n / 2^sig_bits — so bits must GROW with the
    corpus or buckets grow as n and the re-rank degenerates toward
    all-pairs. This rule guarantees expected population ≤
    ``TARGET_BUCKET_ROWS`` by construction at any n (a 10× corpus adds
    ~3.3 bits). The 4-bit floor keeps tiny corpora bucketed; the
    24-bit cap bounds bucket-count metadata at 16M — raise it past
    ~10^9-row corpora.
    """
    import math

    if n_rows <= 0:
        return 4
    bits = math.ceil(math.log2(max(1, n_rows / TARGET_BUCKET_ROWS)))
    return max(4, min(24, bits))


def lsh_signature(vec: Column | str, dims: int, sig_bits: int = 8) -> Column:
    """Sign-LSH signature bitstring: bit h = sign(<vec, hyperplane_h>).

    Hyperplane components are Python-side constants (a tiny ±1 matrix
    — broadcast-free literals folded into codegen), so the projection
    is a pure column expression.

    ``vec`` as a str is a SQL fragment for the array<double> operand
    (e.g. ``as_double_sql(name)``) — the fast path: the
    signature is sig_bits × dims literal components, and building it
    node-by-node through py4j costs ~0.75 s of driver time per
    construction at (dims=64, bits=9); one F.expr parses JVM-side in
    ~6 ms to the SAME expressions (value-equality pinned by test).
    """
    if isinstance(vec, str):
        bits_sql = []
        for h in range(sig_bits):
            comps = ",".join(
                f"{float(hyperplane_component(h, d))}D" for d in range(dims)
            )
            proj = (
                f"aggregate(zip_with({vec}, array({comps}), "
                f"(x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
            )
            bits_sql.append(f"CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END")
        return F.expr("concat(" + ", ".join(bits_sql) + ")")
    bits = []
    for h in range(sig_bits):
        comps = [hyperplane_component(h, d) for d in range(dims)]
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(c)) for c in comps]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, "1").otherwise("0"))
    return F.concat(*bits)


def bucket_scored_pairs(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    sig_bits: int,
) -> DataFrame:
    """All scored (qid, nid) pairs WITHIN each sign-LSH bucket as pure
    column expressions: signature equi self-join + fold dot product —
    no Python workers at all. The building block for in-bucket mining
    passes that need every pair, not a top-k (e.g. hard-negative
    mining); candidate volume is bounded by bucket population squared,
    never the corpus."""
    v = as_double(F.col(vec_col))

    sigs = vectors.select(
        F.col(id_col).alias("vid"),
        v.alias("v"),
        lsh_signature(as_double_sql(vec_col), dims, sig_bits).alias("sig"),
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    a = sigs.select(
        F.col("vid").alias("qid"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "sig",
    )
    b = sigs.select(
        F.col("vid").alias("nid"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), "sig",
    )
    return (
        a.join(b, "sig")
        .where(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            # NULL-guard the zero-norm case (same rule as _exact_rerank):
            # a zero vector sharing a bucket must not trip ANSI
            # DIVIDE_BY_ZERO.
            F.round(
                F.when(
                    (F.col("na") != 0) & (F.col("nb") != 0),
                    dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                ),
                ROUND_DP,
            ).alias("score"),
        )
    )


def banded_range_search(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    threshold: float,
    bands: int = 8,
    band_bits: int = 3,
) -> DataFrame:
    """Radius query (FAISS range_search, pgvector WHERE-distance): all
    unordered pairs with rounded cosine >= ``threshold``, candidates
    from a banded OR-construction over sign-LSH — the cosine analog of
    MinHash banding. A pair is a candidate if ANY of ``bands`` R-bit
    signature slices matches: P(candidate) = 1 - (1 - p^R)^B with
    p = 1 - theta/pi, so moderate-angle pairs that a single wide
    signature almost never co-buckets (p^24 ~ 0) survive with high
    probability (B=8, R=3 at cos 0.4 ~ 0.9; measured 0.93 on the
    fixture, pinned by test). Tune R up with log2(n/target_bucket)
    exactly like sized_sig_bits; B buys recall linearly in cost.

    Shape: band explode (B small structs/vector), (band_id, key)
    equi self-join, pair DISTINCT, then one exact rounded-score filter
    after a join back to the (id, vec, norm) table — candidate volume
    is bounded by per-band bucket occupancy, never |n|^2.
    """
    v = as_double(F.col(vec_col))
    sig_bits = bands * band_bits
    sigs = (
        vectors.select(
            F.col(id_col).alias("vid"),
            v.alias("v"),
            lsh_signature(as_double_sql(vec_col), dims, sig_bits).alias("sig"),
        )
        .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
        # Pin: feeds the band explode and BOTH exact-filter join
        # sides; each would otherwise recompute all sig_bits
        # hyperplane projections per row.
        .localCheckpoint(eager=True)
    )

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.substring("sig", b * band_bits + 1, band_bits).alias("bk"),
            )
            for b in range(bands)
        ]
    )
    # Spread the band explode and the collision join across the
    # executor cores — a single-file fixture otherwise runs both in
    # one task (explicit count: exempt from AQE coalescing).
    bd = (
        sigs.repartition(
            vectors.sparkSession.sparkContext.defaultParallelism, F.col("vid")
        )
        .select("vid", F.explode(band_structs).alias("band"))
        .select("vid", "band.band_id", "band.bk")
    )
    # DISTINCT over the collision join, with map-side partial
    # aggregation doing the heavy dedup before the exchange. (A
    # first-matching-band emit-once filter was tried and measured 3x
    # SLOWER: the dynamic-substr exists() lambda is interpreted
    # per collision row, while distinct's partial hash-agg is codegen.)
    cand = (
        bd.select(F.col("vid").alias("id_a"), "band_id", "bk")
        .join(bd.select(F.col("vid").alias("id_b"), "band_id", "bk"),
              ["band_id", "bk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    na = sigs.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    nb = sigs.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    score = F.round(
        F.when(
            (F.col("na") != 0) & (F.col("nb") != 0),
            dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
        ),
        ROUND_DP,
    )
    return (
        cand.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("score", score)
        .where(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def lsh_bucketed_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    k: int = 5,
    sig_bits: int | None = None,
) -> DataFrame:
    """ANN top-k within sign-LSH buckets.

    Signatures are computed JVM-side (codegen column expression — the
    ±1 hyperplane matrix folds into literals, no Python round-trip);
    one shuffle groups vectors by signature; each bucket re-ranks
    exactly with a numpy matmul (applyInPandas). This is the IVF
    execution shape: the only shuffle key is the bucket id, candidate
    scoring never leaves the executor, and bucket size — not corpus
    size — bounds the quadratic term.

    ``sig_bits=None`` (the default) sizes the signature from the corpus
    via ``sized_sig_bits`` — one count() buys a bucket population that
    stays bounded as n grows. A FIXED sig_bits is only correct when the
    caller pins it to a known corpus size (the oracle fixtures do, so
    their SQL strings stay static).
    """
    if sig_bits is None:
        sig_bits = sized_sig_bits(vectors.count())
    import numpy as np
    import pandas as pd

    sigs = vectors.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        lsh_signature(as_double_sql(vec_col), dims, sig_bits).alias("sig"),
    )

    def bucket_topk(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"qid": [], "nid": [], "score": [], "rank": []}
            ).astype({"qid": "int64", "nid": "int64", "score": "float64", "rank": "int64"})
        ids = pdf["qid"].to_numpy()
        m = np.vstack(pdf["qv"].to_numpy()).astype("float64")
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        scores = np.round(m @ m.T, ROUND_DP)
        np.fill_diagonal(scores, -np.inf)
        out_q, out_n, out_s, out_r = [], [], [], []
        for i in range(n):
            row = scores[i]
            order = np.lexsort((ids, -row))[: min(k, n - 1)]
            out_q.extend([ids[i]] * len(order))
            out_n.extend(ids[order])
            out_s.extend(row[order])
            out_r.extend(range(1, len(order) + 1))
        return pd.DataFrame({"qid": out_q, "nid": out_n, "score": out_s, "rank": out_r})

    return sigs.groupBy("sig").applyInPandas(
        bucket_topk, schema="qid bigint, nid bigint, score double, rank bigint"
    )


def ivf_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int | str = 16,
    n_probe: int | str = 2,
) -> DataFrame:
    """IVF (inverted-file) ANN top-k with a learned coarse quantizer.

    The classic IVF execution shape on Spark:

    1. TRAIN: ``coarse_train_centroids`` — seeded driver-side Lloyd's
       on a bounded content-hash sample (FAISS practice; one sample
       pull instead of a full corpus pass per MLlib iteration).
    2. ASSIGN: every vector gets its nearest-centroid bucket via one
       Arrow argmin pass against the broadcast center matrix (a
       narrow map — no shuffle, the ``ivfpq_encode`` shape).
    3. PROBE: the same Arrow pass emits each vector's ``n_probe``
       closest buckets (stable argsort over the center distances —
       the recall/cost dial); no n×k intermediate ever materializes.
    4. SEARCH: probe assignments equi-join bucket members on the
       bucket id (the ONLY shuffle key), exact cosine re-ranks inside
       — per-bucket population, not corpus size, bounds the quadratic
       term.

    vs sign-LSH buckets: centroids adapt to the data distribution, so
    bucket sizes stay balanced where hyperplanes would shear dense
    regions. Seeded + deterministic; scores are exact cosine.

    PRECONDITION: ``vectors`` must have DETERMINISTIC
    lineage — the assign pass is deliberately unpinned and its two
    consumers (members, probes) re-execute it, so a source whose
    re-execution can yield different rows or ids (un-seeded
    ``sample()``, ``limit()`` without an order, ``rand()``-derived
    ids) would give the two subtrees inconsistent row sets. Callers
    with such a source must ``localCheckpoint`` it first (the
    registered queries read parquet — deterministic; ``ivfpq_topk``
    pins its unit frame and is immune).

    The SEARCH step scores candidates with a cogrouped Arrow/numpy
    matmul per bucket (probes × members), not per-pair column
    expressions: interpreted higher-order-function dot products cost
    ~µs per pair, and candidate count is n·(n/buckets)·n_probe — at
    sf0.1 that's 6M pairs, 30+ s interpreted vs ~1 s vectorized. Each
    bucket emits only its local top-k per query (the global top-k is a
    subset of the union of per-bucket top-ks); one final window merges.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    feats = vectors.select(
        F.col(id_col).alias("qid"),
        as_double(F.col(vec_col)).alias("qv"),
    )

    # Output id columns keep the INPUT id column's type (a
    # hardcoded bigint narrowed the operator to 64-bit integer ids;
    # string or other id types must survive the pandas path too).
    id_spark_t = vectors.schema[id_col].dataType.simpleString()

    n_centroids = resolve_n_centroids(n_centroids, vectors)
    n_probe = resolve_n_probe(n_probe, n_centroids)
    centers = coarse_train_centroids(
        feats, "qv", n_centroids, seed=SEED, max_iter=8
    )

    # The Arrow assign pass computes the nearest bucket (assignment)
    # AND the n_probe closest buckets (probe list) per vector —
    # previously the probe side materialized n×k rows through a
    # broadcast cross join and ranked them with a per-query window (a
    # full shuffle). The cogroup consumes members and probes as two
    # subtrees, so this UNPINNED lineage executes twice — a deliberate
    # trade: two columnar pruned scans + two vectorized matmuls cost
    # less than materializing a corpus-sized checkpoint (the
    # UnsafeRow-rescans trap), and the old code also scanned twice
    # (transform pass + probe cross join). Both sides stay narrow
    # maps over the same frame and the ONLY
    # shuffle left in the search is the bucket-keyed cogroup.
    # Tie-break matches the old window's (dist asc, bucket asc) via a
    # stable argsort over (dist, bucket).
    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.vstack(pdf["qv"].to_numpy()).astype("float64")
            order = probe_buckets(v, centers, n_probe)
            yield pd.DataFrame(
                {
                    "nid": pdf["qid"].to_numpy(),
                    "nv": pdf["qv"].to_numpy(),
                    "bucket": order[:, 0].astype("int32"),
                    "probes": list(order.astype("int32")),
                }
            )

    assigned = feats.mapInPandas(
        assign,
        schema=(
            f"nid {id_spark_t}, nv array<double>, bucket int, "
            "probes array<int>"
        ),
    )
    members = assigned.select("nid", "nv", "bucket")
    probes = assigned.select(
        F.col("nid").alias("qid"),
        F.col("nv").alias("qv"),
        F.explode("probes").alias("bucket"),
    )

    id_pd_dtype = {
        "tinyint": "int64",
        "smallint": "int64",
        "int": "int64",
        "bigint": "int64",
    }.get(id_spark_t, "object")

    def score_bucket(probe_pdf: "pd.DataFrame", member_pdf: "pd.DataFrame"):
        empty = pd.DataFrame({"qid": [], "nid": [], "score": []}).astype(
            {"qid": id_pd_dtype, "nid": id_pd_dtype, "score": "float64"}
        )
        if len(probe_pdf) == 0 or len(member_pdf) == 0:
            return empty
        qids = probe_pdf["qid"].to_numpy()
        nids = member_pdf["nid"].to_numpy()
        q = np.vstack(probe_pdf["qv"].to_numpy()).astype("float64")
        m = np.vstack(member_pdf["nv"].to_numpy()).astype("float64")
        q = q / np.linalg.norm(q, axis=1, keepdims=True)
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        # Raw scores here; rounding happens Spark-side (F.round,
        # HALF_UP — matches the previous column-expression formulation
        # and the DuckDB oracle; np.round is half-to-even).
        scores = q @ m.T
        scores[qids[:, None] == nids[None, :]] = -np.inf  # exclude self
        out_q, out_n, out_s = [], [], []
        for i in range(len(qids)):
            row = scores[i]
            order = np.lexsort((nids, -row))[: min(k, len(nids))]
            order = order[row[order] > -np.inf]
            out_q.extend([qids[i]] * len(order))
            out_n.extend(nids[order])
            out_s.extend(row[order])
        return pd.DataFrame({"qid": out_q, "nid": out_n, "score": out_s})

    scored = (
        probes.groupby("bucket")
        .cogroup(members.groupby("bucket"))
        .applyInPandas(
            score_bucket,
            schema=f"qid {id_spark_t}, nid {id_spark_t}, score double",
        )
    ).withColumn("score", F.round(F.col("score"), ROUND_DP))
    w_rank = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "score", "rank")
    )


# Past this probe fan-out the plan itself is the cost: a 2,325-wide
# F.array at (bits=24, f=3) plus the query-side explode dwarfs the
# bucket pruning it buys, and the honest serving path at that corpus
# size is the trained IVF tier (see resolve_n_flip). Warn, don't
# raise — fixture sweeps and calibration runs legitimately cross it.
PROBE_FANOUT_WARN = 1024


def _one_probe(sig: Column, positions: tuple[int, ...], sig_bits: int) -> Column:
    """Signature with the (sorted, 0-indexed) ``positions`` bits
    flipped, built FLAT: unchanged runs are single substrings and each
    flipped bit one F.when — ≤ 2f+1 nodes per probe. The previous
    nested-flip form copied the whole operand 3× per level (~3^f
    subexpression copies), which at (bits=24, f=3) made Catalyst carry
    ~27 copies of the signature per probe × 2,325 probes.
    """
    parts: list[Column] = []
    prev = 0
    for p in positions:
        if p > prev:
            parts.append(F.substring(sig, prev + 1, p - prev))
        parts.append(
            F.when(F.substring(sig, p + 1, 1) == "1", F.lit("0")).otherwise("1")
        )
        prev = p + 1
    if prev < sig_bits:
        parts.append(F.substring(sig, prev + 1, sig_bits - prev))
    return F.concat(*parts) if len(parts) > 1 else parts[0]


def _one_probe_sql(sig_sql: str, positions: tuple[int, ...], sig_bits: int) -> str:
    """SQL form of ``_one_probe`` — identical flat substring/when
    concat, rendered as text for the single-F.expr fast path."""
    parts: list[str] = []
    prev = 0
    for p in positions:
        if p > prev:
            parts.append(f"substring({sig_sql}, {prev + 1}, {p - prev})")
        parts.append(
            f"CASE WHEN substring({sig_sql}, {p + 1}, 1) = '1' "
            f"THEN '0' ELSE '1' END"
        )
        prev = p + 1
    if prev < sig_bits:
        parts.append(f"substring({sig_sql}, {prev + 1}, {sig_bits - prev})")
    return f"concat({', '.join(parts)})" if len(parts) > 1 else parts[0]


def _probe_sig_array(sig: Column | str, sig_bits: int, n_flip: int) -> Column:
    """Array of probe signatures at Hamming distance <= ``n_flip`` from
    ``sig`` (the query's own bucket first) — the multi-probe LSH probe
    set (Lv et al., VLDB'07; with ±1 hyperplanes all bits are equally
    likely to be the miss, so we enumerate rather than rank flips).

    Fan-out = sum_{i<=n_flip} C(sig_bits, i); all probes are pure
    column expressions (flat substring/when concats), so the set costs
    one projection — no shuffle, no Python. Fan-outs beyond
    ``PROBE_FANOUT_WARN`` emit a RuntimeWarning steering serving-path
    callers to the trained IVF tier.

    ``sig`` as a str is a SQL fragment (usually a backtick-quoted
    column name) — the fast path: the probe set is fan-out ×
    ~(2f+1) expression nodes, ~1 s of py4j round trips at (bits=9,
    f=2) when built node-by-node; one F.expr parses the whole array
    JVM-side in ~2 ms to the SAME expressions (value-equality pinned
    by test).
    """
    import math
    from itertools import combinations

    fanout = sum(math.comb(sig_bits, i) for i in range(max(0, n_flip) + 1))
    if fanout > PROBE_FANOUT_WARN:
        import warnings

        warnings.warn(
            f"multi-probe fan-out {fanout} (sig_bits={sig_bits}, "
            f"n_flip={n_flip}) exceeds {PROBE_FANOUT_WARN}: the probe "
            f"array/explode dominates the plan at this width — use the "
            f"trained IVF tier (ivf_topk / ivfpq_topk) for corpora "
            f"this size",
            RuntimeWarning,
            stacklevel=2,
        )
    if isinstance(sig, str):
        probes_sql = [sig]
        for f in range(1, max(0, n_flip) + 1):
            for positions in combinations(range(sig_bits), f):
                probes_sql.append(_one_probe_sql(sig, positions, sig_bits))
        return F.expr("array(" + ", ".join(probes_sql) + ")")
    probes = [sig]
    for f in range(1, max(0, n_flip) + 1):
        for positions in combinations(range(sig_bits), f):
            probes.append(_one_probe(sig, positions, sig_bits))
    return F.array(*probes)


def resolve_n_flip(n_flip: int | str, sig_bits: int) -> int:
    """``n_flip='auto'`` -> the probe-radius leg of the sized-signature
    dial: clamp(ceil(sig_bits / 6), 2, 3).

    The IVF dial lesson transplanted: a FIXED
    probe budget at a corpus-sized signature silently decays recall —
    ``sized_sig_bits`` grows bits ~ log2(n/64), per-bucket collision
    decays geometrically in bits, while the Hamming-1 fan-out grows
    only linearly. The probe RADIUS must scale with the signature.
    Measured knee (recall@5 vs blocked brute force; sf0.1
    weakly-clustered fixture at bits=5, sf1 clustered replicas at
    bits=9 — SCALING.json lsh_dial_recall):

        bits=5: f=1 -> 0.385,  f=2 -> 0.730,  f=3 -> 0.929
        bits=9: f=1 -> 0.816,  f=2 -> 0.960 (10.7 s vs exact 85.8 s),
                f=3 -> 0.9935 (48.8 s — 57% of exact: past the knee)

    The floor of 2: radius 1 is the measured decay mode on weakly
    clustered data (0.385 at bits=5, below the 0.45 smoke floor).
    The cap of 3: fan-out is C(bits, f) and the f=3 reading at bits=9
    already spends 57% of brute force — past bits~18 (n ~ 16M rows at
    TARGET_BUCKET_ROWS=64) even radius 3 scans a vanishing bucket
    fraction, and the honest serving path for corpora that size is
    the TRAINED coarse-quantizer tier (ivf_topk / ivfpq_topk with
    n_probe='auto'), not a wider LSH radius: a data-blind hyperplane
    signature cannot hold recall at bounded cost as bits -> 24, which
    is exactly why the ANN ladder keeps both tiers.
    """
    if n_flip == "auto":
        import math

        return min(3, max(2, math.ceil(sig_bits / 6)))
    return int(n_flip)


def lsh_multiprobe_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    k: int = 5,
    sig_bits: int | None = None,
    n_flip: int | str = 1,
    vectorized: bool = True,
) -> DataFrame:
    """Multi-probe sign-LSH ANN top-k. ``sig_bits=None`` auto-sizes
    from the corpus via ``sized_sig_bits`` (see ``lsh_bucketed_topk``);
    ``n_flip='auto'`` sizes the probe RADIUS with the signature via
    ``resolve_n_flip`` — the two legs of one dial (the IVF discipline:
    a fixed probe budget at a growing signature silently decays
    recall; measured in SCALING.json lsh_dial_recall).

    ``vectorized=True`` (default) scores buckets with a cogrouped
    Arrow/numpy matmul (the ivf_topk SEARCH shape — right whenever
    probe fan-out × bucket population is large); ``vectorized=False``
    keeps the pure-column-expression path (no Python workers at all —
    right for small fixed-signature buckets where worker spin-up
    exceeds the scoring).

    Single-bucket LSH misses neighbors that land one hyperplane away;
    multi-probe recovers them WITHOUT doubling buckets: each query
    probes its own signature bucket plus every bucket at Hamming
    distance ≤ ``n_flip`` (the classic multi-probe LSH trick — flip the
    weakest bits; with ±1 hyperplanes all bits are equal so we flip
    each). Probe fan-out is sum_{i<=n_flip} C(sig_bits, i).

    Execution shape: signatures and per-vector norms are one projection
    pass each; the probe explode multiplies only the QUERY side rows
    (never vectors²); the candidate join shuffles on the signature key
    alone; scoring is an exact-cosine expression; one window ranks per
    query. A (q, n) pair meets at most once — probe signatures are
    distinct and n has one signature — so no pair dedup is needed.
    """
    from pyspark.sql import Window

    if sig_bits is None:
        sig_bits = sized_sig_bits(vectors.count())
    n_flip = resolve_n_flip(n_flip, sig_bits)
    base = vectors.select(
        F.col(id_col).alias("vid"),
        as_double(F.col(vec_col)).alias("vec"),
        lsh_signature(as_double_sql(vec_col), dims, sig_bits).alias("sig"),
    ).withColumn("nrm", norm(F.col("vec")))
    # Pin base (measured): it feeds the member side AND the probe side
    # (and the vectorized cogroup reads both), so the scan+signature
    # projection executed twice per action without a lineage cut.
    base = base.localCheckpoint(eager=True)

    members = base.select(
        F.col("vid").alias("nid"),
        F.col("vec").alias("nv"),
        F.col("nrm").alias("n_nrm"),
        "sig",
    )
    probe_sigs = _probe_sig_array("`sig`", sig_bits, n_flip)
    probes = base.select(
        F.col("vid").alias("qid"),
        F.col("vec").alias("qv"),
        F.col("nrm").alias("q_nrm"),
        F.explode(probe_sigs).alias("sig"),
    )

    if vectorized:
        # The ivf_topk SEARCH shape: cogroup probes and members on the
        # signature key and matmul inside each bucket (numpy, Arrow
        # batches). The expression path below costs ~µs per candidate
        # pair in the interpreted higher-order-function dot; with a
        # corpus-sized signature the probe fan-out × bucket population
        # makes that the whole runtime (measured 14 s vs ~2 s at sf0.1
        # feeding v_mmr_rerank). A (q, n) pair meets at most once —
        # probe signatures are distinct and n has one signature — so
        # per-bucket local top-k + one global window merge is exact.
        import numpy as np
        import pandas as pd

        id_spark_t = vectors.schema[id_col].dataType.simpleString()
        id_pd_dtype = {
            "tinyint": "int64",
            "smallint": "int64",
            "int": "int64",
            "bigint": "int64",
        }.get(id_spark_t, "object")

        def score_bucket(probe_pdf: "pd.DataFrame", member_pdf: "pd.DataFrame"):
            empty = pd.DataFrame({"qid": [], "nid": [], "score": []}).astype(
                {"qid": id_pd_dtype, "nid": id_pd_dtype, "score": "float64"}
            )
            if len(probe_pdf) == 0 or len(member_pdf) == 0:
                return empty
            qids = probe_pdf["qid"].to_numpy()
            nids = member_pdf["nid"].to_numpy()
            q = np.vstack(probe_pdf["qv"].to_numpy()).astype("float64")
            m = np.vstack(member_pdf["nv"].to_numpy()).astype("float64")
            qn = probe_pdf["q_nrm"].to_numpy(dtype="float64")
            mn = member_pdf["n_nrm"].to_numpy(dtype="float64")
            # Zero-norm pairs score NULL (NaN here), same rule as the
            # expression path below and bucket_scored_pairs: never
            # substitute a fake norm, never divide by zero.
            qz = qn == 0
            mz = mn == 0
            qn_safe = np.where(qz, 1.0, qn)
            mn_safe = np.where(mz, 1.0, mn)
            # Round BEFORE the local top-k so the per-bucket selection
            # and the global merge window implement the same
            # (rounded score desc, nid) total order — otherwise a raw
            # near-tie straddling a rounding boundary could pick a
            # different local top-k than the expression path.
            scores = np.round(
                (q / qn_safe[:, None]) @ (m / mn_safe[:, None]).T, ROUND_DP
            )
            scores[qz, :] = np.nan
            scores[:, mz] = np.nan
            self_mask = qids[:, None] == nids[None, :]
            out_q, out_n, out_s = [], [], []
            for i in range(len(qids)):
                row = np.where(self_mask[i], -np.inf, scores[i])
                # lexsort ascending puts NaN last, matching Spark's
                # desc-NULLS-LAST window order for the NULL scores.
                order = np.lexsort((nids, -row))[: min(k, len(nids))]
                order = order[~np.isneginf(row[order])]
                out_q.extend([qids[i]] * len(order))
                out_n.extend(nids[order])
                out_s.extend(row[order])
            return pd.DataFrame({"qid": out_q, "nid": out_n, "score": out_s})

        scored = (
            probes.groupby("sig")
            .cogroup(members.groupby("sig"))
            .applyInPandas(
                score_bucket,
                schema=f"qid {id_spark_t}, nid {id_spark_t}, score double",
            )
            .withColumn("score", F.round(F.col("score"), ROUND_DP))
        )
        w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid"))
        return (
            scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .where(F.col("rank") <= k)
            .select("qid", "nid", "score", "rank")
        )

    # NULL-guard the zero-norm case (same rule as bucket_scored_pairs
    # and the vectorized path above): a zero vector sharing a bucket
    # must not trip ANSI DIVIDE_BY_ZERO, and scores NULL, ranking last.
    score = F.round(
        F.when(
            (F.col("q_nrm") != 0) & (F.col("n_nrm") != 0),
            dot(F.col("qv"), F.col("nv")) / (F.col("q_nrm") * F.col("n_nrm")),
        ),
        ROUND_DP,
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid"))
    return (
        probes.join(members, "sig")
        .where(F.col("qid") != F.col("nid"))
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "score", "rank")
    )


def bucket_distances(v, centers):
    """Squared distances of each row of ``v`` to every center via the
    |x|² − 2x·cᵀ + |c|² expansion (one BLAS matmul, no (n, k, dims)
    temporary). Returns an (n, k) float64 matrix — callers with large
    n·k go through ``assign_buckets``/``probe_buckets``, which chunk
    rows so this matrix is only ever (block, k)."""
    return (
        (v**2).sum(axis=1, keepdims=True)
        - 2.0 * (v @ centers.T)
        + (centers**2).sum(axis=1)
    )


def _assign_block_rows(k: int) -> int:
    """Row-block size for blockwise center-distance passes: caps the
    (block × k) float64 distance matrix at 2²⁵ doubles (256 MB), with
    a 1024-row floor so tiny k doesn't over-chunk. Deterministic in k
    alone — per-row results never depend on how rows were blocked
    (each row's distance vector is the same expression either way)."""
    return max(1024, (1 << 25) // max(k, 1))


def assign_buckets(v, centers):
    """Nearest-center bucket per row (first-index tie-break). This is
    THE bucket assignment — every coarse-quantizer consumer
    (ivf_topk, ivfpq_topk's index pass, ivfpq_encode's
    frozen-artifact path, semdedup) shares it so near-tie rows can
    never bucket differently between a full index build and a delta
    encode (the two floating-point formulations of squared distance
    do not agree at ties).

    Blockwise: peak memory is (block × k), never
    (n × k) — at the nlist ∝ √n dial (k = 10⁴) a 400k-row training
    sample would otherwise allocate a 32 GB distance matrix on the
    driver."""
    import numpy as np

    n = len(v)
    blk = _assign_block_rows(len(centers))
    if n <= blk:
        return bucket_distances(v, centers).argmin(axis=1)
    out = np.empty(n, dtype="int64")
    for s in range(0, n, blk):
        out[s : s + blk] = bucket_distances(v[s : s + blk], centers).argmin(
            axis=1
        )
    return out


def probe_buckets(v, centers, n_probe: int):
    """Per row: the ``n_probe`` nearest center indices, tie-broken
    (dist asc, bucket asc) via a stable argsort — the IVF probe list.
    Column 0 is exactly ``assign_buckets`` (stable argsort's first
    element is the first-index argmin), so assign+probe fuse into one
    pass. Blockwise like ``assign_buckets``: peak memory (block × k)."""
    import numpy as np

    n = len(v)
    take = min(n_probe, len(centers))
    blk = _assign_block_rows(len(centers))
    if n <= blk:
        d = bucket_distances(v, centers)
        return np.argsort(d, axis=1, kind="stable")[:, :take]
    out = np.empty((n, take), dtype="int64")
    for s in range(0, n, blk):
        d = bucket_distances(v[s : s + blk], centers)
        out[s : s + blk] = np.argsort(d, axis=1, kind="stable")[:, :take]
    return out


def lloyd_kmeans(data, k: int, seed: int, max_iter: int = 8):
    """Seeded full-dimension Lloyd's over an in-memory sample:
    greedy D²-weighted (k-means++-style) init, blockwise vectorized
    assignment via the |x|² − 2x·cᵀ + |c|² expansion, empty clusters
    keep their previous center. Deterministic given (data order, k,
    seed). Returns a (k', dims) float64 ndarray, k' = min(k, len(data)).

    Memory bound (the real one): peak extra allocation is
    max(block × k, n × dims) float64 with block = 2²⁵/k rows — ~256 MB
    for the distance blocks plus the sample itself, NOT the old
    (n × k) full distance matrix (32 GB at the √n dial's nlist=10⁴ ×
    400k-row sample). Time: the greedy D² init is k sequential
    O(n·dims) passes — at nlist=10⁴ that is the dominant trainer cost
    (~10¹¹ flops, minutes of driver numpy, still driver-bounded and
    corpus-independent vs max_iter full 100-TB corpus scans for an
    MLlib fit).

    This is the coarse-quantizer twin of ``_fit_subspace_books``: the
    model is at most (k × dims) doubles and saturates on a few
    thousand samples, so fitting belongs on the driver — a
    distributed MLlib KMeans fit costs max_iter FULL CORPUS PASSES
    (plus the k-means|| init's own passes) to compute the same tiny
    matrix. At 100 TB that is the difference between one bounded
    sample pull and ~10 scans of the corpus.
    """
    import numpy as np

    if len(data) == 0:
        raise ValueError(
            "lloyd_kmeans: empty training sample (no nonzero vectors?)"
        )
    rng = np.random.default_rng(seed)
    n = len(data)
    k = min(k, n)
    centers = np.empty((k, data.shape[1]), dtype="float64")
    centers[0] = data[int(rng.integers(n))]
    d2 = ((data - centers[0]) ** 2).sum(axis=1)
    for i in range(1, k):
        tot = d2.sum()
        idx = int(rng.choice(n, p=d2 / tot)) if tot > 0 else int(rng.integers(n))
        centers[i] = data[idx]
        d2 = np.minimum(d2, ((data - centers[i]) ** 2).sum(axis=1))
    # Lloyd loop, memory-bounded: assignment goes through
    # the shared blockwise assign_buckets (peak (block × k), never
    # (n × k) — at the √n dial, nlist=10⁴ on a 400k sample is a 32 GB
    # matrix the old full-matrix pass would have allocated), and the
    # update step sorts rows by assignment once and means contiguous
    # segments — O(n·dims + k) instead of k full-sample boolean masks.
    # Bitwise-identical to the mask form: a stable argsort preserves
    # original row order inside each segment, so each segment is the
    # same rows in the same order the boolean mask would gather.
    for _ in range(max_iter):
        assign = assign_buckets(data, centers)
        order = np.argsort(assign, kind="stable")
        srt = data[order]
        bounds = np.searchsorted(assign[order], np.arange(k + 1))
        for c in range(k):
            lo, hi = bounds[c], bounds[c + 1]
            if hi > lo:
                centers[c] = srt[lo:hi].mean(axis=0)
    return centers


def _train_sample(vectors: DataFrame, vec_expr, n_pull: int, what: str):
    """THE bounded training-sample pull, single-sourced
    across every driver-side trainer — ``coarse_train_centroids``,
    ``_ivfpq_train_from_unit``, ``pq_train_codebooks``, ``opq_train``.
    Orders by the md5 content hash of the comma-joined vector
    (partitioning-independent: the same corpus yields the same sample
    regardless of file layout or parallelism), TakeOrdered-limits to
    ``n_pull`` rows — ONE distributed job, driver memory bounded by
    n_pull × dims. Returns a float64 (n, dims) ndarray; raises
    ``ValueError`` on an empty frame (e.g. all-zero vectors filtered
    upstream) rather than failing inside numpy. Sharing this pull is
    what guarantees trainers fed from the same frame train on the
    same rows — the drift the IVFPQ single-sourcing contract forbids.
    """
    import numpy as np

    sample = (
        vectors.select(vec_expr.alias("v"))
        .withColumn("_h", F.md5(F.concat_ws(",", F.col("v"))))
        .orderBy("_h")
        .limit(n_pull)
        .collect()
    )
    if not sample:
        raise ValueError(
            f"{what}: no training vectors "
            "(empty frame or all vectors filtered out)"
        )
    return np.array([r.v for r in sample], dtype="float64")


def coarse_train_centroids(
    vectors: DataFrame,
    vec_col: str,
    k: int,
    seed: int = SEED,
    max_iter: int = 8,
):
    """Train an IVF coarse quantizer FAISS-style: one distributed
    TakeOrdered pulls the training sample (ordered by content hash —
    partitioning-independent, same discipline as
    ``pq_train_codebooks``), then ``lloyd_kmeans`` fits driver-side.
    The ONLY distributed work is the single sample pull, where the
    previous MLlib KMeans fit re-scanned the corpus every iteration.
    Returns a (k', dims) float64 ndarray.

    The effective sample is ``max(TRAIN_SAMPLE_CAP, 40·k)`` — the
    FAISS floor of ~40 training points per centroid — so a large
    ``n_centroids='auto'`` dial (nlist ≈ √n) can never be silently
    clamped to the sample size with one training point per center.
    Driver memory stays sample+block-bounded, not corpus-bounded: at
    the dial's own √n growth, 40·√n rows (e.g. n=10⁸ → nlist 10⁴ →
    400k × 64-dim doubles ≈ 200 MB for the sample) plus the Lloyd
    loop's blockwise (block × k) distance matrix capped at 256 MB
    (``_assign_block_rows`` — the full (n_sample × k) matrix would be
    32 GB at that dial and is never materialized), at a corpus size
    where an MLlib fit would be ~10 full 100-TB-class passes.
    Raises if the frame has no rows (e.g. an all-zero-vector corpus
    after the unit-norm filter) rather than failing inside numpy.
    """
    n_pull = max(TRAIN_SAMPLE_CAP, 40 * k)
    data = _train_sample(
        vectors, as_double(F.col(vec_col)), n_pull, "coarse_train_centroids"
    )
    return lloyd_kmeans(data, k, seed, max_iter=max_iter)


def _ivfpq_train_from_unit(
    unit: DataFrame,
    n_centroids: int,
    m: int,
    k_sub: int,
    seed: int,
):
    """The single IVFPQ trainer (shared by ``ivfpq_topk`` and
    ``ivfpq_train_artifacts`` — the frozen-artifact maintenance
    contract depends on these never drifting): ONE bounded
    content-hash sample pull powers BOTH fits driver-side —
    ``lloyd_kmeans`` (maxIter=8, FAISS-style stable-enough lists) for
    the coarse centers, then the SAME sample's own residuals feed
    ``_fit_subspace_books``. Sample size follows
    ``coarse_train_centroids``' 40-points-per-centroid floor.
    Returns ``(centers, codebooks)`` as float64 ndarrays
    ((k', dims) and (m, k_sub, dims//m)).
    """
    n_pull = max(TRAIN_SAMPLE_CAP, 40 * n_centroids)
    data = _train_sample(unit, F.col("vec"), n_pull, "ivfpq trainer")
    if len(data) < k_sub:
        raise ValueError(
            f"ivfpq trainer: need >= {k_sub} vectors to train the "
            f"residual codebooks, got {len(data)}"
        )
    centers = lloyd_kmeans(data, n_centroids, seed, max_iter=8)
    resid_sample = data - centers[assign_buckets(data, centers)]
    cb = _fit_subspace_books(
        resid_sample, m=m, k_sub=k_sub, seed=seed, max_iter=10
    )
    return centers, cb


def pq_train_codebooks(
    vectors: DataFrame,
    vec_col: str,
    dims: int,
    m: int = 4,
    k_sub: int = 16,
    seed: int = SEED,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks: seeded Lloyd's k-means per
    subspace over a bounded deterministic sample (the PQ training step
    of Jégou et al.'s "Product Quantization for Nearest Neighbor
    Search"; codebook quality saturates on a few thousand samples, so
    training is a BOUNDED model-fit step regardless of corpus size).

    Execution shape: one distributed TakeOrdered pulls
    ``TRAIN_SAMPLE_CAP`` rows (ordered by content hash —
    partitioning-independent), then m tiny 10-iteration k-means fits
    run driver-side in numpy. Distributed iterative KMeans here would
    cost m × 10 job launches to fit what is at most a
    (TRAIN_SAMPLE_CAP × dims) matrix — pure scheduler overhead at any
    scale. Driver memory is bounded by the cap, never the corpus.

    Returns ``codebooks[j][c]`` = centroid ``c`` of subspace ``j`` as
    plain Python floats — small enough (dims × k_sub doubles) to fold
    into column-expression literals, so encode and ADC scoring never
    leave the JVM.
    """
    sub = dims // m
    if sub * m != dims:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    data = _train_sample(
        vectors, as_double(F.col(vec_col)), TRAIN_SAMPLE_CAP,
        "pq_train_codebooks",
    )
    if len(data) < k_sub:
        raise ValueError(f"need >= {k_sub} vectors to train, got {len(data)}")

    # Single-sourced fit: delegate to the same per-subspace
    # Lloyd's that OPQ warm-starts from — opq_train's "trace[0] equals
    # plain-PQ MSE" contract depends on the two paths never drifting.
    centers = _fit_subspace_books(
        data, m=m, k_sub=k_sub, seed=seed, max_iter=10, init=None
    )
    return [
        [[float(v) for v in c] for c in centers[j]] for j in range(m)
    ]


def _fit_subspace_books(
    data, m: int, k_sub: int, seed: int, max_iter: int, init=None
):
    """Per-subspace Lloyd's over an in-memory sample — the inner fit
    shared by plain PQ (fresh seeded init) and OPQ (warm start from
    the previous iteration's centroids, which is what makes each OPQ
    alternation a descent step). Returns (m, k_sub, sub) ndarray."""
    import numpy as np

    dims = data.shape[1]
    sub = dims // m
    books = np.empty((m, k_sub, sub), dtype="float64")
    for j in range(m):
        x = data[:, j * sub : (j + 1) * sub]
        if init is None:
            rng = np.random.default_rng(seed + j)
            centers = x[rng.choice(len(x), size=k_sub, replace=False)].copy()
        else:
            centers = init[j].copy()
        # Row-blocked assignment (same discipline as assign_buckets):
        # the (n, k_sub, sub) broadcast temp is fine at the 4096 PQ
        # cap but not for the IVFPQ residual sample, which grows with
        # the 40·nlist floor (400k rows at the √n dial ≈ 800 MB).
        # Per-row results are identical — same expression either way.
        blk = max(1024, (1 << 24) // max(k_sub * sub, 1))
        for _ in range(max_iter):
            assign = np.empty(len(x), dtype="int64")
            for s in range(0, len(x), blk):
                d2 = (
                    (x[s : s + blk, None, :] - centers[None, :, :]) ** 2
                ).sum(axis=2)
                assign[s : s + blk] = d2.argmin(axis=1)
            for c in range(k_sub):
                mask = assign == c
                if mask.any():
                    centers[c] = x[mask].mean(axis=0)
        books[j] = centers
    return books


def _pq_reconstruct(data, books, m: int):
    """Quantize-and-reconstruct an in-memory sample: per subspace,
    snap to the nearest centroid. Returns (X_hat, sq_err_per_row)."""
    import numpy as np

    sub = data.shape[1] // m
    out = np.empty_like(data)
    for j in range(m):
        x = data[:, j * sub : (j + 1) * sub]
        d2 = ((x[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
        out[:, j * sub : (j + 1) * sub] = books[j][d2.argmin(axis=1)]
    return out, ((data - out) ** 2).sum(axis=1)


def opq_train(
    vectors: DataFrame,
    vec_col: str,
    dims: int,
    m: int = 4,
    k_sub: int = 16,
):
    """OPQ-NP rotation training (Ge et al., "Optimized Product
    Quantization", CVPR 2013): learn an orthonormal R so the PQ
    subspace split stops cutting across the data's correlations —
    plain PQ quantizes fixed coordinate blocks, which is arbitrarily
    bad when variance concentrates across block boundaries.

    Alternating minimization of the shared objective
    E = ||X R - quantize(X R)||_F^2, driver-side over the same bounded
    deterministic sample pq_train_codebooks uses:

      init: R = I, codebooks = the plain PQ fit (so iteration 0's E
            IS the plain-PQ training error);
      loop: (a) re-assign codes (argmin given centroids — descent),
            (b) Lloyd-update centroids WARM-STARTED from the previous
            ones (descent), (c) R <- Procrustes argmin over orthogonal
            matrices given the reconstruction (SVD of X^T X_hat,
            R = U V^T — descent).

    Every step minimizes E with the other blocks fixed, so the
    training-MSE trace is monotonically non-increasing from the
    plain-PQ starting point — the auditable contract the registered
    query checks. Runs 8 alternations; each warm-started Lloyd update
    takes 2 iterations after the 10-iteration plain-PQ fit. Returns (R, codebooks, mse_trace) with R as an
    orthonormal (dims, dims) list-of-lists and mse_trace[0] = the
    plain-PQ training MSE.
    """
    import numpy as np

    sub = dims // m
    if sub * m != dims:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    X = _train_sample(
        vectors, as_double(F.col(vec_col)), TRAIN_SAMPLE_CAP, "opq_train"
    )
    if len(X) < k_sub:
        raise ValueError(f"need >= {k_sub} vectors to train, got {len(X)}")

    R = np.eye(dims)
    books = _fit_subspace_books(X, m, k_sub, SEED, 10)
    _, err = _pq_reconstruct(X, books, m)
    trace = [float(err.mean())]
    for _ in range(8):
        Xr = X @ R
        books = _fit_subspace_books(
            Xr, m, k_sub, SEED, max_iter=2, init=books
        )
        Xhat, err = _pq_reconstruct(Xr, books, m)
        # Procrustes: min_R ||X R - Xhat||_F over orthogonal R.
        U, _s, Vt = np.linalg.svd(X.T @ Xhat)
        R = U @ Vt
        # E after the rotation step (codes/centroids fixed):
        _, err = _pq_reconstruct(X @ R, books, m)
        trace.append(float(err.mean()))
    return (
        [[float(v) for v in row] for row in R],
        [[[float(v) for v in c] for c in b] for b in books],
        trace,
    )


def _pq_index_builder(
    books: list[list[list[float]]], dims: int, m: int, k_sub: int, sig_bits: int
):
    """mapInPandas factory: one vectorized numpy pass computes the PQ
    index row (unit vector, LSH signature, codes, flattened ADC LUT)
    per input vector.

    Why Python here and not column expressions: folding m × k_sub
    codebook centroids into expression literals produces a 1000+-node
    tree whose Catalyst analysis + codegen costs ~10 s per action
    REGARDLESS of data size (measured: 12 s on a 50-row corpus).
    A single Arrow-batched numpy pass does the same math in
    milliseconds and keeps the rest of the plan small — exactly the
    "built-ins genuinely can't express it efficiently" escape hatch.
    """
    import numpy as np
    import pandas as pd

    sub = dims // m
    cb = np.array(books, dtype="float64")  # (m, k_sub, sub)
    hp = np.array(
        [[hyperplane_component(h, d) for d in range(dims)] for h in range(sig_bits)],
        dtype="float64",
    )  # (sig_bits, dims)

    def build(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.vstack(pdf["vec"].to_numpy()).astype("float64")
            v = v / np.linalg.norm(v, axis=1, keepdims=True)
            sig_bits_mat = (v @ hp.T) >= 0  # (n, sig_bits)
            sigs = [
                "".join("1" if b else "0" for b in row) for row in sig_bits_mat
            ]
            codes = np.empty((len(v), m), dtype="int32")
            luts = np.empty((len(v), m * k_sub), dtype="float64")
            for j in range(m):
                x = v[:, j * sub : (j + 1) * sub]  # (n, sub)
                # (n, k_sub) squared distances to subspace-j centroids
                d2 = ((x[:, None, :] - cb[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
                luts[:, j * k_sub : (j + 1) * k_sub] = d2
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"].to_numpy(),
                    "vec": list(v),
                    "sig": sigs,
                    "codes": list(codes),
                    "lut": list(luts),
                }
            )

    return build


def pq_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    k: int = 5,
    m: int = 4,
    k_sub: int = 16,
    sig_bits: int = 8,
    train_fraction: float = 1.0,
) -> DataFrame:
    """Product-quantization ANN top-k (ADC) over sign-LSH buckets —
    the memory-bound tier: candidates are scored from ``m`` byte-sized
    codes (m·log2(k_sub) bits/vector ≈ 2 bytes at defaults vs 256
    bytes raw), so at 100 TB the candidate table that must stay hot is
    ~100× smaller than the raw embeddings.

    Execution shape:

    1. TRAIN: per-subspace seeded Lloyd's on a bounded sample
       (``pq_train_codebooks``).
    2. INDEX: ONE Arrow-batched numpy pass (``mapInPandas``) builds
       (unit vector, LSH signature, codes, ADC lookup table) per
       vector — the persisted ANN index; no shuffle. (Literal-folded
       column expressions were tried first and cost ~10 s of Catalyst
       analysis/codegen per action regardless of data size.)
    3. BUCKET: multi-probe sign-LSH signature join restricts
       candidates (query side probes Hamming-≤1 buckets) —
       the only shuffle key; PQ itself is a compressor, not a pruner,
       so it composes with any coarse index (IVF-PQ shape).
    4. ADC: candidate approx distance = sum of m LUT lookups on its
       codes (small JVM expression) — never touches the candidate's
       raw vector; only (qid, nid, approx) ride the ranking shuffle.
    5. RE-RANK: the 3·k best ADC candidates re-fetch
       vectors and get exact cosine; top-k of those is returned.
    """
    from pyspark.sql import Window

    # Unit-normalize first: ||a-b||² = 2 - 2·cos(a,b) on the unit
    # sphere, so ADC's L2 ordering IS the cosine ordering — without
    # this, norm variance across the corpus scrambles ADC ranks.
    # Zero vectors are DROPPED before normalizing (no cosine exists
    # for them; the zero-norm NULL rule elsewhere would otherwise
    # poison codebooks/ADC with NaN rows).
    unit = unit_vectors(vectors, id_col, vec_col, pin=True)
    # Codebooks train on a deterministic hash sample — the standard PQ
    # practice (codebook quality saturates long before full-corpus
    # coverage; at 100 TB training on everything is pure waste).
    train = unit
    if train_fraction < 1.0:
        from listenbrainz_server_spark.operators.sampling import hash_sample

        train = hash_sample(unit, "vid", train_fraction)
    books = pq_train_codebooks(train, "vec", dims, m=m, k_sub=k_sub, seed=SEED)

    # Pin the index pass (measured): base feeds FOUR consumers
    # (members, probes, and both re-rank vector sides) and nothing
    # else cuts the lineage, so the Arrow index-builder executed up
    # to 4× per action. One eager checkpoint runs it once — this IS
    # the "persisted ANN index" the docstring describes, materialized
    # for the query's lifetime instead of rebuilt per consumer.
    base = unit.mapInPandas(
        _pq_index_builder(books, dims, m, k_sub, sig_bits),
        schema=(
            "vid bigint, vec array<double>, sig string, "
            "codes array<int>, lut array<double>"
        ),
    ).localCheckpoint(eager=True)

    members = base.select(
        F.col("vid").alias("nid"),
        "codes",
        "sig",
    )
    probe_sigs = _probe_sig_array("`sig`", sig_bits, 1)
    probes = base.select(
        F.col("vid").alias("qid"),
        "lut",
        F.explode(probe_sigs).alias("sig"),
    )

    adc = sum(
        F.element_at("lut", F.lit(j * k_sub) + F.element_at("codes", j + 1) + F.lit(1))
        for j in range(m)
    )
    w_adc = Window.partitionBy("qid").orderBy(F.col("approx").asc(), F.col("nid"))
    # The ADC path stays NARROW: only (qid, nid, approx) go through the
    # ranking shuffle — codes/LUT/raw vectors must not ride along (at
    # 144k candidates × 1 KB of arrays that's the whole shuffle).
    survivors = (
        probes.join(members, "sig")
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid", adc.alias("approx"))
        .withColumn("_ar", F.row_number().over(w_adc))
        .where(F.col("_ar") <= 3 * k)
        .select("qid", "nid")
    )
    # Exact re-rank re-fetches raw vectors for the (3·k)-
    # bounded survivor set only.
    qv = base.select(F.col("vid").alias("qid"), F.col("vec").alias("qv"))
    nv = base.select(F.col("vid").alias("nid"), F.col("vec").alias("nv"))
    score = F.round(dot(F.col("qv"), F.col("nv")), ROUND_DP)
    w_rank = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid"))
    return (
        survivors.join(qv, "qid")
        .join(nv, "nid")
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "score", "rank")
    )


def ivfpq_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    k: int = 5,
    n_centroids: int | str = 8,
    n_probe: int | str = 2,
    m: int = 4,
    k_sub: int = 16,
    oversample: int | str = 3,
) -> DataFrame:
    """IVF-PQ ANN top-k — the full FAISS IVFPQ composition (Jégou et
    al. 2011): a learned coarse quantizer prunes the search to
    ``n_probe`` inverted lists, and candidates inside a probed list
    are scored by asymmetric-distance (ADC) over ``m`` byte codes of
    the RESIDUAL v − centroid (residual encoding is what separates
    IVFPQ from flat PQ — residual magnitudes are a fraction of vector
    magnitudes, so the same codebook budget quantizes far finer).

    Execution shape, per stage:
    1. TRAIN: ONE bounded content-hash sample pull powers BOTH
       trainers driver-side — ``lloyd_kmeans`` fits the coarse
       centers, then the sample's own residuals feed
       ``_fit_subspace_books`` (FAISS trains exactly this way: both
       models saturate on a few thousand samples, so the only
       distributed work in training is the single sample pull — the
       previous MLlib fit re-scanned the corpus every iteration).
    2. ENCODE: one Arrow mapInPandas pass assigns each vector's
       bucket (argmin vs the broadcast center matrix) AND codes its
       residual — assignment and encoding fused into a single narrow
       map. The persisted index row is (bucket, m codes) — bytes,
       not floats.
    3. PROBE + ADC: probes cogroup with bucket members on the bucket
       id (the only shuffle key); inside each group one numpy pass
       builds the query-vs-codebook LUT for THIS bucket's residual
       space and gathers ADC distances for all members — per-bucket
       work, never corpus-wide.
    4. RE-RANK: the ``oversample``·k best ADC survivors per query
       re-fetch raw vectors for exact rounded cosine; window top-k.

    Deterministic end-to-end (seeded trainers, nid tie-breaks);
    recall vs brute force pinned in tests. Rows-only (two iterative
    trainers), same contract as ivf_topk/pq_topk.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    sub = dims // m
    if sub * m != dims:
        raise ValueError(f"dims={dims} not divisible by m={m}")

    # Zero vectors dropped before normalizing (same rule as pq_topk:
    # no cosine exists; NaN rows would poison the trainers).
    # Pin the unit frame ONCE: the sample pull, the encode pass, the
    # probe side, and the re-rank re-fetch all read it — without a
    # cut the scan+normalize lineage re-executes per consumer.
    unit = unit_vectors(vectors, id_col, vec_col).localCheckpoint(eager=True)
    n_centroids = resolve_n_centroids(n_centroids, vectors)
    n_probe = resolve_n_probe(n_probe, n_centroids)
    oversample = resolve_oversample(oversample, n_probe)
    centers, cb = _ivfpq_train_from_unit(
        unit, n_centroids, m=m, k_sub=k_sub, seed=SEED
    )

    # Output id columns keep the INPUT id column's type (the same
    # rule as ivf_topk: a hardcoded bigint narrowed
    # the operator to 64-bit integer ids; string ids must survive the
    # Arrow passes and the cogroup schema too).
    id_spark_t = vectors.schema[id_col].dataType.simpleString()
    id_pd_dtype = {
        "tinyint": "int64",
        "smallint": "int64",
        "int": "int64",
        "bigint": "int64",
    }.get(id_spark_t, "object")

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.vstack(pdf["vec"].to_numpy()).astype("float64")
            buckets = assign_buckets(v, centers)
            r = v - centers[buckets]
            codes = np.empty((len(v), m), dtype="int32")
            for j in range(m):
                x = r[:, j * sub : (j + 1) * sub]
                d2 = ((x[:, None, :] - cb[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "nid": pdf["vid"].to_numpy(),
                    "bucket": buckets.astype("int32"),
                    "codes": list(codes),
                }
            )

    members = unit.mapInPandas(
        encode, schema=f"nid {id_spark_t}, bucket int, codes array<int>"
    )

    # Probe side: its own narrow Arrow pass (argsort top-n_probe vs
    # the broadcast center matrix) — previously a broadcast cross join
    # materialized n×k rows and a per-query window ranked them (a full
    # shuffle); kept separate from encode so this pass never computes
    # codes. Tie-break matches the old window's (dist asc, bucket asc)
    # via a stable argsort.
    def probe_fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.vstack(pdf["vec"].to_numpy()).astype("float64")
            order = probe_buckets(v, centers, n_probe)
            yield pd.DataFrame(
                {
                    "qid": np.repeat(pdf["vid"].to_numpy(), order.shape[1]),
                    "qv": np.repeat(pdf["vec"].to_numpy(), order.shape[1]),
                    "bucket": order.ravel().astype("int32"),
                }
            )

    probes = unit.mapInPandas(
        probe_fn, schema=f"qid {id_spark_t}, qv array<double>, bucket int"
    )

    def adc_bucket(probe_pdf: "pd.DataFrame", member_pdf: "pd.DataFrame"):
        empty = pd.DataFrame({"qid": [], "nid": [], "approx": []}).astype(
            {"qid": id_pd_dtype, "nid": id_pd_dtype, "approx": "float64"}
        )
        if len(probe_pdf) == 0 or len(member_pdf) == 0:
            return empty
        b = int(member_pdf["bucket"].iloc[0])
        q = np.vstack(probe_pdf["qv"].to_numpy()).astype("float64")
        qr = q - centers[b]  # query residual in THIS bucket's space
        # LUT: (n_queries, m, k_sub) squared distances per subspace.
        lut = np.empty((len(q), m, k_sub), dtype="float64")
        for j in range(m):
            x = qr[:, j * sub : (j + 1) * sub]
            lut[:, j, :] = ((x[:, None, :] - cb[j][None, :, :]) ** 2).sum(axis=2)
        codes = np.vstack(member_pdf["codes"].to_numpy())  # (n_members, m)
        # ADC gather: approx[i, t] = sum_j lut[i, j, codes[t, j]]
        approx = np.zeros((len(q), len(codes)), dtype="float64")
        for j in range(m):
            approx += lut[:, j, codes[:, j]]
        qids = probe_pdf["qid"].to_numpy()
        nids = member_pdf["nid"].to_numpy()
        out = pd.DataFrame(
            {
                "qid": np.repeat(qids, len(nids)),
                "nid": np.tile(nids, len(qids)),
                "approx": approx.ravel(),
            }
        )
        return out[out["qid"] != out["nid"]]

    scored = (
        probes.groupby("bucket")
        .cogroup(members.groupby("bucket"))
        .applyInPandas(
            adc_bucket,
            schema=f"qid {id_spark_t}, nid {id_spark_t}, approx double",
        )
    )
    w_adc = Window.partitionBy("qid").orderBy(F.col("approx").asc(), F.col("nid"))
    survivors = (
        scored.withColumn("_ar", F.row_number().over(w_adc))
        .where(F.col("_ar") <= oversample * k)
        .select("qid", "nid")
    )
    qv = unit.select(F.col("vid").alias("qid"), F.col("vec").alias("qv"))
    nv = unit.select(F.col("vid").alias("nid"), F.col("vec").alias("nv"))
    score = F.round(dot(F.col("qv"), F.col("nv")), ROUND_DP)
    w_rank = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid"))
    return (
        survivors.join(qv, "qid")
        .join(nv, "nid")
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "score", "rank")
    )


def ivfpq_train_artifacts(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    n_centroids: int | str = 8,
    m: int = 4,
):
    """Train the IVFPQ model artifacts ONLY — coarse centers + residual
    codebooks — without encoding anything. The artifacts are the unit
    of index maintenance: a delta batch is encoded
    against FROZEN artifacts by ``ivfpq_encode`` (pure per-row work, no
    refit), and a refit replaces the artifacts + re-encodes.

    SAME trainer as ``ivfpq_topk`` — both call
    ``_ivfpq_train_from_unit``, the single-sourced fit (a drift
    between the two would silently break delta-encode ≡ full-index
    equivalence). Returns ``(centers, codebooks)`` as nested Python
    floats — small enough to persist as JSON next to the index and to
    ship as closure literals.
    """
    sub = dims // m
    if sub * m != dims:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    unit = unit_vectors(vectors, id_col, vec_col)
    n_centroids = resolve_n_centroids(n_centroids, vectors)
    centers_np, cb = _ivfpq_train_from_unit(
        unit, n_centroids, m=m, k_sub=16, seed=SEED
    )
    centers = [[float(x) for x in c] for c in centers_np]
    books = [[[float(v) for v in c] for c in cb[j]] for j in range(m)]
    return centers, books


def ivfpq_encode(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    centers,
    codebooks,
    keep_vec: bool = False,
) -> DataFrame:
    """Encode vectors against FROZEN IVFPQ artifacts: nearest stored
    coarse center (numpy argmin, first-index tie-break — deterministic)
    + residual PQ codes. A PURE per-row function of
    (vector, centers, codebooks): encoding a delta batch alone is
    byte-identical to the matching slice of a full re-encode, which is
    what makes append-only index maintenance exact
    (tests/test_similarity_blocks.py pins delta ∪ base ≡ full).

    One Arrow ``mapInPandas`` pass, no shuffle; output
    ``(nid, bucket, codes)`` (+ ``vec`` when ``keep_vec``, for drift
    stats). Scale: delta-sized work only — the corpus is never read.
    """
    import numpy as np
    import pandas as pd

    c_arr = np.array(centers, dtype="float64")
    cb = np.array(codebooks, dtype="float64")  # (m, k_sub, sub)
    m, _, sub = cb.shape

    # Delta batches are small — the checkpoint inside unit_vectors
    # stays delta-sized, and the per-element norm fix matters just as
    # much on the encode scan.
    unit = unit_vectors(vectors, id_col, vec_col)

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.vstack(pdf["vec"].to_numpy()).astype("float64")
            # SHARED assignment (assign_buckets): must be the exact
            # same floating-point formulation as ivfpq_topk's index
            # pass, or near-tie rows bucket differently between a
            # delta encode and a full rebuild.
            bucket = assign_buckets(v, c_arr)
            r = v - c_arr[bucket]
            codes = np.empty((len(v), m), dtype="int32")
            for j in range(m):
                x = r[:, j * sub : (j + 1) * sub]
                d2 = ((x[:, None, :] - cb[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            out = {
                "nid": pdf["vid"].to_numpy(),
                "bucket": bucket.astype("int32"),
                "codes": list(codes),
            }
            if keep_vec:
                out["vec"] = pdf["vec"].to_numpy()
            yield pd.DataFrame(out)

    # Keep the input id type (same rule as ivf/ivfpq_topk)
    # — a delta batch with string ids must encode too.
    id_spark_t = vectors.schema[id_col].dataType.simpleString()
    schema = f"nid {id_spark_t}, bucket int, codes array<int>"
    if keep_vec:
        schema += ", vec array<double>"
    return unit.mapInPandas(encode, schema=schema)


def ivf_drift_report(encoded_delta: DataFrame, centers) -> DataFrame:
    """Per-coarse-list drift of a delta batch vs the FROZEN centers —
    the v_embedding_drift centroid-shift stat repurposed as the
    refit-vs-append trigger: per bucket, the L2
    distance between the delta's mean unit vector and the stored
    center. A delta drawn from the indexed distribution lands near its
    centers; an encoder change / distribution shift pushes the shift
    up, and the caller refits when the n-weighted mean shift crosses
    its threshold (``ivfpq_should_refit``).

    Input must come from ``ivfpq_encode(..., keep_vec=True)``. Plan:
    one posexplode + per-(bucket, dim) partial-agg mean (map-side
    combinable), broadcast join with the tiny center table — no
    corpus access, delta-sized.
    """
    center_df = encoded_delta.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "bucket int, center array<double>",
    )
    comp = (
        encoded_delta.select(
            "bucket", F.posexplode("vec").alias("p", "x")
        )
        .groupBy("bucket", "p")
        .agg(F.avg("x").alias("mean_x"), F.count(F.lit(1)).alias("n"))
    )
    return (
        comp.join(F.broadcast(center_df), "bucket")
        .select(
            "bucket",
            "n",
            ((F.col("mean_x") - F.element_at("center", F.col("p") + 1)) ** 2).alias(
                "sq"
            ),
        )
        .groupBy("bucket")
        .agg(
            F.max("n").cast("bigint").alias("n_delta"),
            F.round(F.sqrt(F.sum("sq")), ROUND_DP).alias("centroid_shift"),
        )
    )


def ivfpq_should_refit(drift_report: DataFrame, threshold: float) -> bool:
    """Refit decision from an ``ivf_drift_report``: True when the
    n-weighted mean per-list centroid shift exceeds ``threshold``.
    Weighted so a handful of vectors landing far from a rarely-hit
    list can't force a full retrain, while a corpus-wide shift does.
    One 1-row aggregate — the only driver pull, and it IS the decision."""
    row = drift_report.agg(
        (
            F.sum(F.col("centroid_shift") * F.col("n_delta"))
            / F.sum("n_delta")
        ).alias("w_shift")
    ).collect()[0]
    return row.w_shift is not None and row.w_shift > threshold


def mmr_rerank(
    vectors: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance diversified re-rank of an ANN/exact
    candidate set: greedily select ``k`` of each query's candidates by

        argmax  lam * rel(c)  -  (1 - lam) * max_{s in S} sim(c, s)

    — the standard retrieval-diversity pass (Carbonell & Goldstein
    1998) that keeps a RAG context window from filling with five
    copies of the same paragraph. At ``lam=1.0`` this degrades exactly
    to relevance top-k (pinned by test).

    The greedy loop is inherently sequential PER QUERY but embarrassing
    across queries, so the physical shape is one keyed join (candidates
    → candidate vectors) plus ``applyInPandas`` grouped by a COARSE
    hash bucket of the query id (measured): grouping by qid
    itself paid the fixed Arrow/pandas per-group cost once per query
    (~200 µs × |queries| dominated the stage at 20-row groups —
    measured 1.64 s vs 0.80 s at sf0.1); one bucket now serves
    ~|queries|/B queries per Arrow batch and the per-query greedy
    loop runs unchanged inside. B scales with the session's
    parallelism (defaultParallelism × 4), so per-bucket memory
    (|queries|/B × candidate_mult × dims doubles) stays bounded as
    cluster and data grow together. Determinism: relevance comes in
    pre-rounded, intra-candidate sims and the objective are rounded
    to ``ROUND_DP`` before comparison, and ties pick the smaller
    neighbor id — a total order, so output is stable across
    partitionings, bucketings, and engines.

    ``candidates``: (qid, nid, score) with score = rounded relevance.
    Output: (qid, nid, score, mmr_score, rank) with qid/nid dtypes
    derived from the input id column (no silent bigint narrowing).
    """
    import pandas as pd

    id_type = dict(vectors.dtypes)[id_col]
    vec_side = vectors.select(
        F.col(id_col).alias("nid"), as_double(F.col(vec_col)).alias("v")
    )
    g = candidates.select("qid", "nid", "score").join(vec_side, "nid")
    out_schema = (
        f"qid {id_type}, nid {id_type}, score double, "
        f"mmr_score double, rank bigint"
    )

    def per_query(qid, nids, rel, V):
        import numpy as np

        # Deterministic processing order inside the query's candidate
        # set: (score desc, nid asc) — NaN relevance sorts last under
        # both sort implementations, matching pandas'
        # sort_values behavior.
        if nids.dtype == object:
            order = (
                pd.DataFrame({"n": nids, "r": rel})
                .sort_values(["r", "n"], ascending=[False, True])
                .index.to_numpy()
            )
        else:
            order = np.lexsort((nids, -rel))
        nids = nids[order]
        rel = rel[order]
        V = V[order]
        nrms = np.linalg.norm(V, axis=1)
        nrms[nrms == 0] = 1.0
        S = np.round((V / nrms[:, None]) @ (V / nrms[:, None]).T, ROUND_DP)
        selected: list[int] = []
        remaining = list(range(len(nids)))
        picks = []
        while remaining and len(selected) < k:
            best = None
            for i in remaining:
                pen = max((S[i][j] for j in selected), default=0.0)
                obj = round(lam * rel[i] - (1.0 - lam) * pen, ROUND_DP)
                key = (-obj, nids[i])
                if best is None or key < best[0]:
                    best = (key, i, obj)
            _, i, obj = best
            selected.append(i)
            remaining.remove(i)
            picks.append((i, obj))
        return (
            [qid] * len(picks),
            [nids[i] for i, _ in picks],
            [rel[i] for i, _ in picks],
            [obj for _, obj in picks],
            list(range(1, len(picks) + 1)),
        )

    def select_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if pdf.empty:
            return pd.DataFrame(
                {c: pd.Series(dtype=t) for c, t in
                 [("qid", pdf["qid"].dtype), ("nid", pdf["nid"].dtype),
                  ("score", "float64"), ("mmr_score", "float64"),
                  ("rank", "int64")]}
            )
        # One Arrow batch → many queries: materialize the vector block
        # once per bucket, then slice per query.
        V_all = np.array(pdf["v"].tolist(), dtype=np.float64)
        nid_all = pdf["nid"].to_numpy()
        rel_all = pdf["score"].to_numpy(dtype=np.float64)
        cols = ([], [], [], [], [])
        for qid, idx in pdf.groupby("qid", sort=False).indices.items():
            res = per_query(qid, nid_all[idx], rel_all[idx], V_all[idx])
            for acc, part in zip(cols, res):
                acc.extend(part)
        return pd.DataFrame(
            {
                "qid": cols[0],
                "nid": cols[1],
                "score": cols[2],
                "mmr_score": cols[3],
                "rank": cols[4],
            }
        )

    n_buckets = max(
        int(vectors.sparkSession.sparkContext.defaultParallelism) * 4, 1
    )
    return (
        g.withColumn("_mb", F.pmod(F.hash("qid"), F.lit(n_buckets)))
        .groupBy("_mb")
        .applyInPandas(select_bucket, out_schema)
    )


def semdedup(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    n_clusters: int = 16,
    tau: float = 0.4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication with CLUSTER-BOUNDED pair enumeration — the scale
    path between exact all-pairs (``neardup_pairs``, quadratic) and
    banded LSH (``banded_range_search``, recall < 1 by construction).

    1. TRAIN+ASSIGN: seeded KMeans (maxIter=8, the ivfpq coarse
       convention) on unit vectors → cluster per vector.
    2. PAIRS: per-cluster cosine gram matrix via one Arrow pass
       (``applyInPandas`` over ``groupBy(cluster)`` — a numpy matmul
       per group; pairs are enumerated within clusters ONLY, so the
       quadratic term is bounded by cluster population, the paper's
       core trick), keeping id_a < id_b with score ≥ ``tau``.
    3. GROUPS: connected components via a LOCAL union-find fused into
       the same Arrow pass — every >= tau edge is within-cluster by
       construction, so no component spans the group a worker already
       holds; zero distributed propagation rounds (the generic CC
       operator this replaced paid per-round job launches, the
       measured scheduling floor).
    4. KEEP RULE: per group, keep the member with the LOWEST cosine
       to its cluster centroid (the paper's rule — retain the least
       prototypical example; ties to the smallest id). Singleton
       groups keep themselves.

    Returns one row per input vector:
    (``id_col``, cluster, group_id, keeper_id, keep, cos_center).
    Zero-norm vectors can't participate in cosine dedup and come back
    as their own keepers with cluster = -1 and NULL cos_center.

    Recall contract: within-cluster near-dup pairs are EXACT (full
    gram matrix); pairs split across clusters are the recall loss,
    measured against exact all-pairs in
    tests/test_similarity_blocks.py. Determinism: seeded KMeans,
    sorted ids inside each gram group, struct-min keeper rule.

    Scale (100 TB): one shuffle keyed on cluster id (bounded groups),
    sparse edge CC, one keeper aggregate — no all-pairs stage; cluster
    count dials the pair budget exactly like the paper's k.
    """
    import numpy as np
    import pandas as pd

    # ONE shared repartitioned frame feeds both branches (zero lazy —
    # materialized only in the final union as a parallel pass). The
    # unit frame is pinned because TWO consumers read it — the
    # trainer's sample pull and the Arrow assign pass — and without
    # the pin each would re-execute the repartition shuffle +
    # normalize; members re-pins after assignment for its own three
    # downstream consumers.
    raw = vectors.select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("raw")
    ).repartition(vectors.sparkSession.sparkContext.defaultParallelism)
    zero = raw.where(norm(F.col("raw")) == 0)
    unit = raw.where(norm(F.col("raw")) != 0).select(
        "vid", F.transform("raw", lambda x: x / norm(F.col("raw"))).alias("vec")
    ).localCheckpoint(eager=True)
    centers = coarse_train_centroids(
        unit, "vec", n_clusters, seed=SEED, max_iter=8
    )

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.vstack(pdf["vec"].to_numpy()).astype("float64")
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"].to_numpy(),
                    "vec": pdf["vec"].to_numpy(),
                    "cluster": assign_buckets(v, centers).astype("int32"),
                }
            )

    id_t_assign = vectors.schema[id_col].dataType.simpleString()
    assigned = unit.mapInPandas(
        assign, schema=f"vid {id_t_assign}, vec array<double>, cluster int"
    )
    centroids = vectors.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "cluster int, center array<double>",
    )
    members = (
        assigned
        .join(F.broadcast(centroids), "cluster")
        .select(
            "cluster",
            "vid",
            "vec",
            # |v| = 1, so cos(v, c) = v·c / |c|.
            (
                F.aggregate(
                    F.zip_with(
                        F.col("vec"), F.col("center"), lambda x, y: x * y
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / norm(F.col("center"))
            ).alias("cos_center"),
        )
        .localCheckpoint(eager=True)  # feeds pairs, CC nodes, keeper agg
    )

    id_t = vectors.schema[id_col].dataType.simpleString()

    # CC fused into the gram pass (the ~3 s CC scheduling floor):
    # every >= tau edge is WITHIN-cluster by construction, so
    # components never span the Arrow group already
    # holding the full similarity matrix in memory — a local
    # union-find over the kept pairs labels the whole cluster in the
    # SAME pass, where the previous distributed
    # connected_components() paid one job launch per propagation
    # round for a graph that never left one worker. The generic CC
    # operator remains the right tool when candidate edges cross
    # buckets (LSH bands, d_dup_groups). Rows sort by vid and unions
    # keep the smaller index as root, so group_id = component min id —
    # the same representative contract as connected_components.
    def cluster_groups(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vid").reset_index(drop=True)
        mat = np.vstack(pdf["vec"].to_numpy())
        sims = mat @ mat.T
        n = len(pdf)
        ia, ib = np.triu_indices(n, k=1)
        keep = sims[ia, ib] >= tau
        parent = list(range(n))

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for a, b in zip(ia[keep], ib[keep]):
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        vids = pdf["vid"].to_numpy()
        return pd.DataFrame(
            {"vid": vids, "group_id": [vids[find(i)] for i in range(n)]}
        )

    groups = members.select("cluster", "vid", "vec").groupBy("cluster").applyInPandas(
        cluster_groups, f"vid {id_t}, group_id {id_t}"
    )

    labeled = members.join(groups, "vid").select(
        "cluster",
        "vid",
        "cos_center",
        "group_id",
    )
    keepers = labeled.groupBy("group_id").agg(
        F.min(F.struct(F.col("cos_center"), F.col("vid"))).alias("m")
    ).select("group_id", F.col("m.vid").alias("keeper_id"))

    out = labeled.join(F.broadcast(keepers), "group_id").select(
        F.col("vid").alias(id_col),
        "cluster",
        "group_id",
        "keeper_id",
        (F.col("vid") == F.col("keeper_id")).alias("keep"),
        F.round("cos_center", ROUND_DP).alias("cos_center"),
    )
    zeros = zero.select(
        F.col("vid").alias(id_col),
        F.lit(-1).alias("cluster"),
        F.col("vid").alias("group_id"),
        F.col("vid").alias("keeper_id"),
        F.lit(True).alias("keep"),
        F.lit(None).cast("double").alias("cos_center"),
    )
    return out.unionByName(zeros).orderBy(id_col)
