"""Deduplication operators for training-data pipelines.

Generalizes the reference's exact dedup (group-by-all-columns,
listens/delete.py:53-60; ON CONFLICT identity keys,
listenbrainz/listenstore/timescale_listenstore.py:170-176) into the
dedup family a 100 TB text pipeline needs:

- exact dedup: hash-groupBy on a normalized fingerprint;
- n-gram Jaccard: exact set similarity via shingle inverted index
  (correctness baseline — O(pairs sharing a shingle));
- MinHash + LSH banding: the scale path — candidate pairs come from
  band-bucket equality, cost ~O(docs × bands), never all-pairs;
- SimHash: per-doc locality-sensitive bit signature.

Determinism: all hashing is md5-of-string (identical bytes in any
engine). SimHash derives each signature bit from one hex char of the
token md5 (chars 0-7 → 0, 8-f → 1) — no hex→int conversion needed,
so the DuckDB oracle replicates it verbatim.

Scale notes:
- The shingle inverted index is built once (explode + distinct) and
  feeds both Jaccard and MinHash; at 100 TB you persist it bucketed
  by shingle so the pair-join is co-located.
- LSH parameters (num_hashes H, bands B, rows R=H/B) trade recall vs
  candidate volume: P(candidate) = 1-(1-j^R)^B. Callers pick per
  corpus; defaults H=16, B=8 target j≳0.3.
- The Jaccard self-join shuffles on shingle; hot shingles (stopword
  n-grams) are the skew risk — AQE skew-join handles moderate skew;
  ``d_hot_shingles`` reports the document frequencies and the pair
  cost they induce.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from listenbrainz_server_spark.functions.text import fingerprint, shingles, tokens


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One representative row (min id) per normalized-text fingerprint."""
    fp = fingerprint(F.col(text_col))
    return (
        df.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def shingle_index(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct (id, shingle) inverted index.

    The doc-keyed repartition parallelizes the chars-proportional
    tokenize+shingle explode by DOCUMENT rather than input file split
    (a few dense parquet files would otherwise run the whole explode
    on as many cores as there are files — measured 5.5x at sf0.1);
    explicit partition count so AQE can't coalesce the small-bytes
    doc shuffle below the fan-out stage.
    """
    df = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    return (
        df.select(F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("shingle"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    materialize_index: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold.

    shared(a,b) via shingle equi-join; |a∪b| = |a|+|b|-shared.

    The inverted index feeds three plan branches (sizes + both join
    sides). ``materialize_index`` persists it once instead of
    re-tokenizing 3× — worth it when tokenization dominates (large
    corpus; at 100 TB persist(DISK_ONLY), the reference's dim-cache
    pattern, postgres/artist.py:54-62). At small scale recompute is
    cheaper than the serialization round-trip, so default off.
    """
    idx = shingle_index(df, id_col, text_col, n)
    if materialize_index:
        idx = idx.localCheckpoint(eager=True)
    sizes = idx.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))

    a = idx.select(F.col(id_col).alias("id_a"), "shingle")
    b = idx.select(F.col(id_col).alias("id_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        shared.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    idx: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """H minhash values per id: mh_i = min(md5(i || '|' || shingle)).

    Lexicographic min over hex strings — identical in every engine.
    One groupBy computes all H mins (single shuffle).
    """
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return idx.groupBy(id_col).agg(*aggs)


def minhash_band_buckets(
    sigs: DataFrame, id_col: str, num_hashes: int = 16, bands: int = 8
) -> DataFrame:
    """(id, band_id, band_key) rows from a minhash-signature frame —
    the ONE place band hashing lives (md5 over the '|'-joined band
    slice); every LSH consumer (candidate pairs, sketch calibration,
    incremental probing) derives buckets here so the tiers can't
    silently disagree on the banding scheme."""
    # A non-divisible width would silently drop trailing hash
    # components and weaken the LSH guarantee.
    assert num_hashes % bands == 0, (
        f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
    )
    rows = num_hashes // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.md5(
                F.concat_ws("|", *[F.col(f"mh{b * rows + r}") for r in range(rows)])
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band")
    ).select(id_col, "band.band_id", "band.band_key")


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """MinHash-LSH candidate pairs: ids sharing ≥1 band bucket.

    Bucket join is an equi join on (band_id, band_key) — the scale
    path: no all-pairs comparison ever materializes.
    """
    sigs = minhash_signatures(shingle_index(df, id_col, text_col, n), id_col, num_hashes)
    buckets = minhash_band_buckets(sigs, id_col, num_hashes, bands)
    # Pin the bucket table once: the candidate self-join reads it on
    # BOTH sides, and its lineage (tokenize → shingle explode →
    # 16-way min agg) is the expensive part — without a cut the whole
    # signature pipeline executes twice. (H+2)/H more rows than the
    # signature table, still ~|docs|×bands — executor-bounded.
    buckets = buckets.localCheckpoint(eager=True)

    a = buckets.select(F.col(id_col).alias("id_a"), "band_id", "band_key")
    b = buckets.select(F.col(id_col).alias("id_b"), "band_id", "band_key")
    return (
        a.join(b, ["band_id", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Duplicate-group assignment: connected components over candidate
    pairs via min-label propagation **with path halving** (pointer
    jumping). Returns (id, group_id) with group_id = the component's
    minimum id — the canonical representative a dedup pipeline keeps.

    Each round computes one fused monotone update over an AUGMENTED
    edge set — the graph edges plus a pointer edge (l(v) → v) per
    node:

        l(v) ← min(l(v), min over graph-neighbors u of l(u), l(l(v)))

    The pointer edges fold path halving into the same join: a
    length-d label chain keeps (better than) halving every round, so
    convergence is **O(log n) rounds** instead of O(component
    diameter) — even a pathological dup-chain component (the 100 TB
    scale risk: each round is a full-edge shuffle) finishes in
    ~log2(d) rounds — while the per-round plan stays exactly one keyed
    join + one aggregate (the pointer edges add only |V| rows to the
    2|E| join input; no second shuffle stage, so shallow star/clique
    components — the common near-dup case, which converges in 2
    rounds — pay nothing over plain propagation).

    The update only ever *decreases* labels, and every label is some
    component member's id, so the fixpoint is exactly the component
    minimum (at a fixpoint any edge (u,v) forces l(v) ≤ l(u) and
    symmetrically, hence equal labels per component).
    ``max_iter`` is a safety bound, not the expected cost: exceeding
    it raises ``RuntimeError`` rather than return partial labels.

    When ``stats`` is passed, ``stats["rounds"]`` records the number
    of executed rounds (including the final no-change confirmation
    round) — used by the chain-fixture bound test.

    Per-round cost is ONE Spark job (the d_semdedup
    profile showed per-round job *launches*, not data volume,
    dominating the CC stage): each round LAZY-localCheckpoints the new
    label frame and lets the convergence aggregate be the action that
    materializes it, where the previous eager-checkpoint+agg shape
    paid two job launches per round. Lineage is still cut per round
    (labels feeds the next round's plan twice, so an uncut plan
    doubles per round), and localCheckpoint RDDs remain
    ContextCleaner-reclaimable — no cache bookkeeping needed.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        # Materialize once: every iteration joins edges, and the pair
        # generation upstream (shingle jaccard / LSH) is the expensive
        # part — without this the whole candidate pipeline re-runs
        # per round AND per convergence check.
        .localCheckpoint(eager=True)
    )
    # Propagate only over nodes that have edges; the (dominant)
    # singleton majority short-circuits to group_id = id at the end.
    paired_nodes = edges.select(F.col("src").alias("node")).distinct()
    labels = paired_nodes.withColumn("group_id", F.col("node"))
    rounds = 0
    # Three-phase schedule (fewer sequential jobs):
    #
    #   plain    rounds 1..2: the original fused update
    #            l(v) ← min(l(v), min_nbr l(u), l(l(v))) over the
    #            ORIGINAL edges — cheapest per round, and the common
    #            near-dup star/clique components converge here (the
    #            text-dedup family measures 2 rounds), paying nothing
    #            over the old schedule.
    #   contract rounds 3..: neighbor mins move to the LABEL IMAGE of
    #            the edge set — nbr_min(c) = min lsrc over the
    #            current-label images (l(u), l(v)) of the original
    #            edges, applied to v through l(v), plus one extra
    #            dereference of the candidate. Plain propagation moves
    #            the component min ONE graph hop per round — on
    #            v_embedding_dup_groups' diameter-22 component that
    #            measured 13 rounds (one ~0.3 s job each), and
    #            label-chain path halving cannot help because label
    #            pointers don't align with graph topology (simulated:
    #            halving 13 → 12). Contracting through labels
    #            collapses already-merged regions into supervertices,
    #            so each round's hop crosses what used to be many hops
    #            (simulated 13 → 7 rounds on the real graph; a
    #            shuffled-id 1024-chain that plain propagation cannot
    #            finish inside max_iter converges in 11). The edge set
    #            itself stays the materialized original — re-imaging
    #            it per round is joins against the checkpointed label
    #            table, and keeping it fixed avoids materializing an
    #            evolving edge state per round (measured: the
    #            state-union variant's rounds cost ~3x a plain round
    #            and gave the same round count).
    #   confirm  once contraction reports no change, fall back to
    #            plain rounds over the ORIGINAL edges until one
    #            reports no change. The stop condition is therefore
    #            EXACTLY the old one — a plain-rule fixpoint on the
    #            original edge set, whose fixpoint-= -component-min
    #            argument is in the docstring — so the contraction
    #            phase is purely an accelerator and can never change
    #            the result, only the round count.
    #
    # Every round in every phase stays ONE job: lazy localCheckpoint +
    # the convergence agg as the materializing action;
    # the contraction round materializes its new labels AND its new
    # edge set in that one job by unioning them into a single tagged
    # state frame and splitting with post-materialization filters.
    contract_after = 2
    phase = "plain"
    # The plain round that confirms a contraction fixpoint does not
    # count against max_iter: a contraction that converges on the last
    # allowed round still gets its proof instead of a spurious error.
    while rounds < max_iter + (phase == "confirm"):
        rounds += 1
        if phase != "contract":
            # Pointer edges (l(v) → v) ride the SAME join as graph
            # edges: neighbor_min(v) then includes l(l(v)) — path
            # halving with no extra shuffle stage. Every group_id is a
            # node id (labels start as ids and only take mins of ids),
            # so the pointer src always resolves against the label
            # table.
            #
            # Deliberately ONE update per materialized round: fusing
            # two updates into one plan was measured SLOWER (d_semdedup
            # 5.9 → 9.4 s, d_dup_groups 2.6 → 4.2 s at sf0.1) — the
            # inner update's subplan appears three times in the fused
            # plan and Spark re-executes it per occurrence.
            pointer_edges = labels.select(
                F.col("group_id").alias("src"), F.col("node").alias("dst")
            )
            aug = edges.unionByName(pointer_edges)
            neighbor_min = (
                aug.join(labels, aug.src == labels.node)
                .groupBy("dst")
                .agg(F.min("group_id").alias("nbr_min"))
            )
            new_labels = (
                labels.join(neighbor_min, labels.node == neighbor_min.dst, "left")
                .select(
                    "node",
                    F.least(
                        F.col("group_id"),
                        F.coalesce(F.col("nbr_min"), F.col("group_id")),
                    ).alias("group_id"),
                    F.coalesce(
                        F.col("nbr_min") < F.col("group_id"), F.lit(False)
                    ).alias("_chg"),
                )
            )
            labels = new_labels.localCheckpoint(eager=False)
            changed = labels.agg(F.max("_chg")).first()[0]
            labels = labels.drop("_chg")
            if not changed:
                break
            if phase == "plain" and rounds >= contract_after:
                phase = "contract"
        else:
            # Label-contracted round. All label-table reads below hit
            # the PREVIOUS round's materialized checkpoint — no
            # lineage re-execution (the one-job round fusion relies on
            # exactly this materialization). The round stays ONE job with a
            # labels-only lazy checkpoint, same as the plain round.
            l1 = labels.select(
                F.col("node").alias("_n1"), F.col("group_id").alias("_g1")
            )
            l2 = labels.select(
                F.col("node").alias("_n2"), F.col("group_id").alias("_g2")
            )
            nbr = (
                edges.join(l1, edges.src == F.col("_n1"))
                .select(F.col("_g1").alias("lsrc"), "dst")
                .join(l2, F.col("dst") == F.col("_n2"))
                .select("lsrc", F.col("_g2").alias("ldst"))
                .where(F.col("lsrc") != F.col("ldst"))
                .groupBy("ldst")
                .agg(F.min("lsrc").alias("nbr_min"))
            )
            lp = labels.select(
                F.col("node").alias("_pn"), F.col("group_id").alias("_pg")
            )
            cand = (
                labels.join(lp, labels.group_id == F.col("_pn"), "left")
                .join(nbr, labels.group_id == nbr.ldst, "left")
                .select(
                    "node",
                    F.col("group_id"),
                    F.least(
                        F.col("group_id"),
                        F.coalesce(F.col("_pg"), F.col("group_id")),
                        F.coalesce(F.col("nbr_min"), F.col("group_id")),
                    ).alias("_cand"),
                )
            )
            lf = labels.select(
                F.col("node").alias("_fn"), F.col("group_id").alias("_fg")
            )
            new_labels = cand.join(lf, cand._cand == F.col("_fn"), "left").select(
                "node",
                F.least(
                    F.col("_cand"), F.coalesce(F.col("_fg"), F.col("_cand"))
                ).alias("group_id"),
                (
                    F.least(F.col("_cand"), F.coalesce(F.col("_fg"), F.col("_cand")))
                    < F.col("group_id")
                ).alias("_chg"),
            )
            labels = new_labels.localCheckpoint(eager=False)
            changed = labels.agg(F.max("_chg")).first()[0]
            labels = labels.drop("_chg")
            if not changed:
                # Accelerator is done; prove the plain-rule fixpoint
                # on the ORIGINAL edges before stopping.
                phase = "confirm"
    else:
        # Partially propagated labels would be a silently wrong grouping.
        raise RuntimeError(
            f"connected_components: not converged after {max_iter} rounds "
            "(a component's diameter exceeds max_iter)."
        )
    if stats is not None:
        stats["rounds"] = rounds
    singletons = (
        nodes.select(F.col(id_col).alias("node"))
        .join(paired_nodes, "node", "left_anti")
        .withColumn("group_id", F.col("node"))
    )
    return labels.unionByName(singletons).select(
        F.col("node").alias(id_col), "group_id"
    )


def _doc_keyed_norm_base(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """The shared base of every char-gram tier: the canonical
    normalization (lowercase, non-alphanumeric runs -> one space,
    trimmed — must stay bit-identical across tiers AND their SQL
    oracles), the length >= k admissibility filter, and the doc-keyed
    repartition that is BOTH the parallelism fix (gram work is
    chars-proportional — parallelize by document, not input file
    split) and the projection-collapse barrier keeping the regex out
    of per-gram lambdas. Explicit partition count: AQE would coalesce
    a small-bytes shuffle to one partition and serialize the fan-out
    work above it; user-specified counts are exempt. Returns
    (``id_col``, ``_t``). Identical subtrees within one query reuse
    the exchange (ReusedExchange)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " "))
    return (
        docs.select(F.col(id_col), norm.alias("_t"))
        .where(F.length("_t") >= k)
        .repartition(
            docs.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
        )
    )


def exact_substring_contamination(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 24,
    stride: int = 8,
) -> DataFrame:
    """Exact-substring contamination detection via rolling character
    k-grams: flags (train doc, benchmark doc) pairs
    that share a VERBATIM normalized character run — catching leaks
    that word-n-gram containment misses when tokenization shifts
    (punctuation glued to words, casing, collapsed whitespace).

    Method — a suffix-array's collision guarantee without the suffix
    array, as a bucketed join:

    - both sides normalize to a canonical character stream (lowercase,
      every non-alphanumeric run → one space, trimmed), so any
      tokenization-level reformatting of the same text yields the SAME
      characters;
    - the benchmark side hashes its k-char grams at EVERY offset, the
      training side only every ``stride`` chars — any shared normalized
      run of length ≥ k + stride - 1 must then contain a train-aligned
      gram that also occurs in the bench doc, so detection is
      guaranteed above that length while train-side gram volume drops
      by ``stride``×;
    - candidates come from an equi join on md5(gram) (fixed-width
      shuffle key) — shuffle is keyed by gram, never train × bench
      all-pairs; counts are over distinct grams per side so repeated
      phrases don't inflate the match.

    Benchmark docs whose normalized text is shorter than ``k`` are
    undetectable by construction — pick k below the shortest benchmark
    unit you care about.
    """
    def gram_index(df: DataFrame, out_id: str, s: int) -> DataFrame:
        grams_expr = (
            f"transform(sequence(1, length(_t) - {k} + 1, {s}), "
            f"p -> substr(_t, p, {k}))"
        )
        return (
            _doc_keyed_norm_base(df, id_col, text_col, k)
            .select(F.col(id_col).alias(out_id), "_t")
            .select(out_id, F.explode(F.expr(grams_expr)).alias("_g"))
            .select(out_id, F.md5("_g").alias("g"))
            .distinct()
        )

    tg = gram_index(train, "train_id", stride)
    bg = gram_index(bench, "bench_id", 1)
    return (
        tg.join(bg, "g")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("matched_grams"))
    )


def exact_substring_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 24,
    stride: int = 8,
    min_matched: int = 1,
    prefilter: bool = True,
) -> DataFrame:
    """Within-corpus exact-substring duplicate pairs — the train-train
    counterpart of ``exact_substring_contamination``: unordered doc
    pairs sharing a VERBATIM normalized character run, which word-level
    shingling (Jaccard/MinHash) misses when tokenization shifts.

    Same detection guarantee as the contamination tier: one index at
    stride 1 (fine) and one at ``stride`` (coarse) over the SAME
    corpus; any shared normalized run of length ≥ k + stride - 1 must
    contain a coarse-aligned gram present in the other doc's fine
    index. Candidates come from an equi join on md5(gram) — shuffle is
    keyed by gram, never all-pairs; each unordered pair is
    canonicalized (least, greatest) and matched grams counted DISTINCT
    across both directions, so a pair never double-counts a gram seen
    from each side.

    ``prefilter=True`` gates both indexes behind the winnowed
    candidate-doc set (see exact_substring_spans — recall 1 for all
    guaranteed-detectable runs >= k + stride - 1).

    Reference grounding: generalizes the group-by-identity dedup of
    listens/delete.py:53-60 from whole-row equality to shared verbatim
    spans.
    """
    if prefilter:
        cand = winnow_candidate_docs(docs, id_col, text_col, k=k, w=stride)
        docs = docs.join(cand, id_col, "left_semi")

    base = _doc_keyed_norm_base(docs, id_col, text_col, k)

    # No per-index .distinct() (measured): the final per-pair metric is
    # COUNT(DISTINCT g), which already collapses within-doc repeats, so
    # pre-deduplicating each index buys nothing semantically and costs
    # a full extra shuffle of BOTH indexes (distinct shuffles the same
    # rows the join is about to shuffle again on g). Within-doc gram
    # repetition is tiny anyway (measured 18 of 1.37M positions at
    # sf0.1).
    def gram_index(out_id: str, s: int) -> DataFrame:
        grams_expr = (
            f"transform(sequence(1, length(_t) - {k} + 1, {s}), "
            f"p -> substr(_t, p, {k}))"
        )
        return (
            base.select(F.col(id_col).alias(out_id), "_t")
            .select(out_id, F.explode(F.expr(grams_expr)).alias("_g"))
            .select(out_id, F.md5("_g").alias("g"))
        )

    cg = gram_index("cid", stride)
    fg = gram_index("fid", 1)
    # shuffle_hash on the coarse side (measured): post-gate size
    # estimates are unreliable enough that the planner was BROADCASTING
    # the stride-1 FINE index (the larger side — 1.25M rows at sf0.1,
    # corpus-chars-proportional at 100 TB, where it would hit the 8 GB
    # broadcast cap long before the scan finishes). A shuffled hash
    # join keyed on g builds the per-partition hash table from the
    # coarse side (1/stride the rows) — right at both scales.
    return (
        cg.hint("shuffle_hash").join(fg, "g")
        .where(F.col("cid") != F.col("fid"))
        .select(
            F.least("cid", "fid").alias("id_a"),
            F.greatest("cid", "fid").alias("id_b"),
            "g",
        )
        .groupBy("id_a", "id_b")
        .agg(F.count_distinct("g").alias("matched_grams"))
        .where(F.col("matched_grams") >= min_matched)
    )


def winnow_fingerprints(
    docs: DataFrame, id_col: str, text_col: str, k: int = 24, w: int = 8
) -> DataFrame:
    """Winnowed document fingerprints (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003 — the MOSS sampler): per doc, the lexicographic-min
    md5 of every ``w`` consecutive normalized char-``k``-grams.

    The selection runs INSIDE the document row with array HOFs — the
    stride-1 gram hashes exist only transiently in whole-stage codegen;
    what materializes (and shuffles) is the ~2/(w+1)-density distinct
    fingerprint set. Guarantee (the winnowing theorem): any shared
    normalized run of length >= k + w - 1 contains a full w-gram window
    in BOTH documents, whose min hash both select — so a fingerprint
    equi-join has recall 1 for such runs. Hash collisions only ADD
    candidates, never lose them.

    The min is selected by md5 order — md5-of-string is byte-identical
    in any engine (ASCII-hex lexicographic compare; same determinism
    rule as SimHash, module docstring) AND it is what makes the
    sampling uniform: a raw-gram lexicographic min would bias
    selection toward lexicographically small grams, which cluster on
    boilerplate and inflate the candidate set (measured: +40% rows,
    3× slower tier).

    Execution shape — explode + native sliding-window min, NOT an
    array HOF: gram md5s are computed ONCE each in a whole-stage-
    codegen projection above the position explode, and the per-window
    min is Spark's window aggregate over a (doc, pos) frame. The
    tempting one-row HOF form (transform over windows of a
    precomputed hash array) is a trap twice over: the shared array
    reference gets inlined by projection collapse and re-evaluated
    per window (measured ~30× slower), and materializing it behind a
    barrier ships 32× the text bytes through an exchange. Here the
    only exchange is the doc-keyed repartition of the normalized text
    (1× text bytes), which the window pass then reuses — partitioned
    by ``id_col`` already, so the window adds a sort, not a shuffle.

    Returns per-doc-distinct (``id_col``, fp string).
    """
    from pyspark.sql import Window

    base = _doc_keyed_norm_base(docs, id_col, text_col, k)
    grams = base.select(
        F.col(id_col),
        (F.length("_t") - k + 1).alias("_n"),
        F.explode(F.expr(f"sequence(1, length(_t) - {k} + 1)")).alias("_p"),
        "_t",
    ).select(
        id_col,
        "_n",
        "_p",
        F.md5(F.expr(f"substr(_t, _p, {k})")).alias("_h"),
    )
    # Window starts i in 1..n-w+1 are the full windows; a doc with
    # fewer than w grams keeps its single (truncated) window at i=1.
    win = Window.partitionBy(id_col).orderBy("_p").rowsBetween(0, w - 1)
    return (
        grams.withColumn("_m", F.min("_h").over(win))
        .where(F.col("_p") <= F.greatest(F.lit(1), F.col("_n") - w + 1))
        .select(id_col, F.col("_m").alias("fp"))
        .distinct()
    )


def winnow_candidate_docs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 24,
    w: int = 8,
) -> DataFrame:
    """Documents that share at least one winnowed fingerprint with
    ANOTHER document — the candidate gate for the verbatim-span tier:
    a doc with no shared fingerprint provably shares no normalized run
    of length >= k + w - 1, so the stride-1 fine-gram pass can skip it
    entirely. Everything is keyed by fingerprint then id; the
    multi-doc-fingerprint set is a data-reduced aggregate, never
    all-pairs.
    """
    # winnow_fingerprints ends in a per-(id, fp) distinct (the
    # explode + window-min pass emits one row per WINDOW, and adjacent
    # windows usually share their min), so fps is already unique and
    # the per-fp count below is a true document frequency.
    fps = winnow_fingerprints(docs, id_col, text_col, k=k, w=w)
    multi = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_df")).where(
        F.col("_df") >= 2
    )
    return (
        fps.join(multi.select("fp"), "fp", "left_semi")
        .select(id_col)
        .distinct()
    )


def exact_substring_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 24,
    stride: int = 8,
    prefilter: bool = True,
) -> DataFrame:
    """Maximal verbatim-run EXTENTS for exact-substring matches — the
    span report a dedup operator asks for right after
    ``exact_substring_pairs`` says two docs share text: WHERE in each
    document the shared run sits (1-based offsets into the normalized
    text) and how long it is.

    Shape: the same fine (stride 1) / coarse (``stride``) char-k-gram
    indexes as the pairs tier, but POSITION-BEARING; the md5(gram) equi
    join yields anchors (cid, fid, cpos, fpos), and anchors of one
    contiguous shared run all sit on one DIAGONAL (cpos − fpos
    constant) at coarse-grid spacing — so a classic gaps-and-islands
    pass per (pair, diagonal) merges them into maximal runs: a gap
    > ``stride`` between neighboring anchors starts a new island (a
    continuous run materializes every coarse-grid gram, so a missing
    one proves discontinuity). Every window is keyed by (cid, fid,
    diag) — bounded by a single pair's anchor count, never the corpus —
    and the join shuffles on the gram key alone.

    Output (directional — src's coarse grid anchored against dst's
    fine index; document both directions by unioning with swapped
    roles if symmetric reporting is wanted):
    (src_id, dst_id, src_start, src_end, dst_start, dst_end,
     span_chars, n_anchors). A reported span of n_anchors=1 certifies
    a shared run of at least k chars; span_chars is the certified
    verbatim extent (k + (n_anchors-1)·stride when anchors are
    grid-contiguous).

    Reference grounding: extends listens/delete.py:53-60's
    identity-group dedup to located verbatim spans.

    ``prefilter=True`` (default) gates BOTH gram indexes behind
    ``winnow_candidate_docs``: only documents sharing a winnowed
    fingerprint with another document generate char-level rows at all.
    The gate has recall 1 for every run the operator GUARANTEES to
    detect (>= k + stride - 1 chars; winnowing window w = stride) — it
    can only drop never-guaranteed luck-of-alignment matches in the
    k..k+stride-2 range, and the candidate pass itself materializes
    only ~2/(stride+1)-density fingerprints, so the O(total chars)
    stride-1 explode runs on the dup-involved subset of the corpus,
    never the whole 100 TB. ``prefilter=False`` keeps the exhaustive
    form as the fixture-scale recall cross-check.
    """
    if prefilter:
        cand = winnow_candidate_docs(docs, id_col, text_col, k=k, w=stride)
        docs = docs.join(cand, id_col, "left_semi")

    cg = _positioned_gram_index(docs, id_col, text_col, "cid", "cpos", k, stride)
    fg = _positioned_gram_index(docs, id_col, text_col, "fid", "fpos", k, 1)

    # shuffle_hash on the coarse side (measured): same rationale as
    # exact_substring_pairs — the planner's post-gate estimates had it
    # BROADCASTING the stride-1 fine positioned index (the big side;
    # 8 GB-cap hazard at 100 TB). Shuffled hash keyed on g builds from
    # the 1/stride coarse side instead. (The _delta variant below keeps
    # the planner's choice: its fine side is the batch — genuinely
    # broadcast-sized.)
    anchors = (
        cg.hint("shuffle_hash").join(fg, "g")
        .where(F.col("cid") != F.col("fid"))
        .select(
            F.col("cid").alias("src_id"),
            F.col("fid").alias("dst_id"),
            "cpos",
            (F.col("cpos") - F.col("fpos")).alias("diag"),
        )
    )
    return _anchor_islands(anchors, k, stride)


def _positioned_gram_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    out_id: str,
    pos_name: str,
    k: int,
    s: int,
) -> DataFrame:
    """Positioned normalized char-k-gram index at stride ``s``:
    (``out_id``, ``pos_name``, g=md5(gram)). The repartition between
    normalize and explode is per-document parallelism for the
    chars-proportional gram work AND the collapse barrier keeping the
    regex out of the per-gram lambda (see winnow_fingerprints);
    identical subtrees of one query reuse the exchange. Explicit
    partition count — AQE would coalesce a small-bytes shuffle to one
    partition and serialize the fan-out work above it."""
    base = _doc_keyed_norm_base(docs, id_col, text_col, k)
    grams_expr = (
        f"transform(sequence(1, length(_t) - {k} + 1, {s}), "
        f"p -> struct(p AS pos, substr(_t, p, {k}) AS gram))"
    )
    return (
        base.select(F.col(id_col).alias(out_id), "_t")
        .select(out_id, F.explode(F.expr(grams_expr)).alias("_pg"))
        .select(
            out_id,
            F.col("_pg.pos").alias(pos_name),
            F.md5("_pg.gram").alias("g"),
        )
    )


def _anchor_islands(anchors: DataFrame, k: int, stride: int) -> DataFrame:
    """Gaps-and-islands merge of (src_id, dst_id, cpos, diag) anchors
    into maximal verbatim spans; every window is keyed by
    (pair, diagonal) — anchor-count bounded, never corpus bounded."""
    from pyspark.sql import Window

    w = Window.partitionBy("src_id", "dst_id", "diag").orderBy("cpos")
    brk = F.when(
        F.col("cpos") - F.lag("cpos").over(w) > stride, 1
    ).otherwise(0)
    islands = anchors.withColumn("brk", brk).withColumn(
        "island",
        F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy("src_id", "dst_id", "diag", "island")
        .agg(
            F.min("cpos").alias("src_start"),
            (F.max("cpos") + k - 1).alias("src_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
        )
        .select(
            "src_id",
            "dst_id",
            "src_start",
            "src_end",
            (F.col("src_start") - F.col("diag")).alias("dst_start"),
            (F.col("src_end") - F.col("diag")).alias("dst_end"),
            (F.col("src_end") - F.col("src_start") + 1).alias("span_chars"),
            "n_anchors",
        )
    )


def exact_substring_spans_delta(
    corpus: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 24,
    stride: int = 8,
) -> DataFrame:
    """Delta-only verbatim-span maintenance: spans of EXISTING corpus
    documents (src) verbatim-shared with a NEW batch (dst) — the
    incremental form of ``exact_substring_spans`` for an append-only
    corpus (same delta-vs-corpus contract as d_incremental_dedup's
    band probing).

    Work is batch-scaled where it matters: only the delta explodes at
    stride 1 (O(batch chars) fine rows); the corpus side is the
    stride-``stride`` COARSE positioned index — the persisted,
    append-only artifact of the tier (1/stride of corpus chars; here
    rebuilt inline because registry queries are self-contained).
    Detection guarantee is identical to the full operator: a shared
    normalized run >= k + stride - 1 between a corpus doc and a new
    doc must contain a corpus-grid-aligned gram present in the new
    doc's fine index.

    Equivalence: result == exact_substring_spans(corpus ∪ delta,
    prefilter=False) restricted to (src in corpus, dst in delta) —
    pinned by test.
    """
    cg = _positioned_gram_index(corpus, id_col, text_col, "cid", "cpos", k, stride)
    fg = _positioned_gram_index(delta, id_col, text_col, "fid", "fpos", k, 1)
    anchors = (
        cg.join(fg, "g")
        .where(F.col("cid") != F.col("fid"))
        .select(
            F.col("cid").alias("src_id"),
            F.col("fid").alias("dst_id"),
            "cpos",
            (F.col("cpos") - F.col("fpos")).alias("diag"),
        )
    )
    return _anchor_islands(anchors, k, stride)


def simhash_bit(token_hash: Column, bit: int) -> Column:
    """Bit ``bit`` of a token signature: hex char ``bit`` of md5,
    0-7 → -1 vote, 8-f → +1 vote."""
    ch = F.substring(token_hash, bit + 1, 1)
    return F.when(ch.isin("0", "1", "2", "3", "4", "5", "6", "7"), -1).otherwise(1)


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """Per-doc SimHash as a ``bits``-char bitstring column ``simhash``.

    Token multiset votes per bit; sign of the vote sum sets the bit.
    Zero votes (empty docs) resolve to '1' ('>=0' rule) — documented,
    deterministic. Votes come from the md5 hex chars of each token, 32
    per digest, so ``bits`` is at most 32.
    """
    assert bits <= 32, "simhash draws from one md5 digest: bits <= 32"
    df = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )  # doc-keyed parallelism for the token explode (see shingle_index)
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    tok = tok.withColumn("th", F.md5("tok"))
    votes = tok.groupBy(id_col).agg(
        *[F.sum(simhash_bit(F.col("th"), i)).alias(f"v{i}") for i in range(bits)]
    )
    bit_chars = [F.when(F.col(f"v{i}") >= 0, "1").otherwise("0") for i in range(bits)]
    return votes.select(F.col(id_col), F.concat(*bit_chars).alias("simhash"))


def contamination_pairs(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_containment: float = 0.5,
) -> DataFrame:
    """Benchmark-contamination detection: (train doc, benchmark doc)
    pairs where ≥ ``min_containment`` of the benchmark doc's distinct
    word n-grams appear verbatim in the training doc — the standard
    n-gram-overlap decontamination check run before training.

    Execution shape: both sides go through the same shingle inverted
    index; candidates come from the shingle equi join (shuffle key =
    shingle, never train × bench all-pairs); containment denominators
    join broadcast (the benchmark corpus is tiny relative to training
    data — at 100 TB the bench index itself is broadcastable).
    """
    ti = shingle_index(train, id_col, text_col, n).select(
        F.col(id_col).alias("train_id"), "shingle"
    )
    bi = shingle_index(bench, id_col, text_col, n).select(
        F.col(id_col).alias("bench_id"), "shingle"
    )
    bench_sz = bi.groupBy("bench_id").agg(F.count(F.lit(1)).alias("bench_sz"))
    shared = (
        ti.join(bi, "shingle")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )
    containment = F.round(F.col("shared_ngrams") * 1.0 / F.col("bench_sz"), 6)
    return (
        shared.join(F.broadcast(bench_sz), "bench_id")
        .withColumn("containment", containment)
        .where(F.col("containment") >= min_containment)
        .select("train_id", "bench_id", "shared_ngrams", "containment")
    )
