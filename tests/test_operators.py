"""Unit tests for the operator library on small hand-checked fixtures
(the reference's golden-output style, listenbrainz_spark
stats/user/tests/test_user_stats.py:16-71, without HDFS)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from listenbrainz_server_spark.operators.aggregates import capped_count, combine_aggregates
from listenbrainz_server_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    simhash,
)
from listenbrainz_server_spark.operators.joins import anti_join, densify, semi_join
from listenbrainz_server_spark.operators.sessionize import session_pairs, with_session_ids
from listenbrainz_server_spark.operators.topk import top_k_per_group


def ts(s):
    return datetime.fromisoformat(s)


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("u1", "a", 5), ("u1", "b", 3), ("u1", "c", 3), ("u2", "a", 1)],
        "user string, item string, n int",
    )
    out = top_k_per_group(
        df, ["user"], [F.col("n").desc(), F.col("item")], k=2
    ).collect()
    got = {(r.user, r.item, r.rank) for r in out}
    assert got == {("u1", "a", 1), ("u1", "b", 2), ("u2", "a", 1)}


def test_capped_count(spark):
    rows = [("u1", "x")] * 10 + [("u2", "x")] * 2 + [("u2", "y")]
    df = spark.createDataFrame(rows, "user string, item string")
    out = {r.item: r.listen_count for r in capped_count(df, "user", ["item"], cap=3).collect()}
    assert out == {"x": 5, "y": 1}  # u1 capped 10->3, u2 keeps 2


def test_combine_aggregates_matches_direct(spark):
    base = spark.createDataFrame([("a", 2), ("b", 1)], "k string, n long")
    delta = spark.createDataFrame([("a", 3), ("c", 4)], "k string, n long")
    out = {r.k: r.n for r in combine_aggregates(base, delta, ["k"], ["n"]).collect()}
    assert out == {"a": 5, "b": 1, "c": 4}


def test_anti_and_semi_join(spark):
    df = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "id int, v string")
    keys = spark.createDataFrame([(2,)], "id int")
    assert {r.id for r in anti_join(df, keys, ["id"]).collect()} == {1, 3}
    assert {r.id for r in semi_join(df, keys, ["id"]).collect()} == {2}


def test_densify_zero_fills(spark):
    keys = spark.createDataFrame([("u1",), ("u2",)], "user string")
    buckets = spark.createDataFrame([(0,), (1,)], "h int")
    facts = spark.createDataFrame([("u1", 0, 7)], "user string, h int, n int")
    out = densify(keys, buckets, facts, ["user", "h"], {"n": F.lit(0)})
    got = {(r.user, r.h, r.n) for r in out.collect()}
    assert got == {("u1", 0, 7), ("u1", 1, 0), ("u2", 0, 0), ("u2", 1, 0)}


def test_sessionization_gap_semantics(spark):
    rows = [
        ("u", ts("2024-01-01 10:00:00")),
        ("u", ts("2024-01-01 10:10:00")),   # 600s gap -> same session
        ("u", ts("2024-01-01 11:00:01")),   # 3001s gap -> new session
    ]
    df = spark.createDataFrame(rows, "user string, t timestamp")
    out = with_session_ids(df, "user", "t", gap_seconds=1800)
    sids = [r.session_id for r in out.orderBy("t").collect()]
    assert sids == [0, 0, 1]


def test_session_pairs_canonical_order(spark):
    df = spark.createDataFrame(
        [("u", 0, "b"), ("u", 0, "a"), ("u", 0, "a"), ("u", 1, "c")],
        "user string, sid int, item string",
    )
    out = {(r.item_a, r.item_b): r.score for r in session_pairs(df, "user", "sid", "item").collect()}
    assert out == {("a", "b"): 2}  # two 'a' occurrences x one 'b'; c alone


def test_exact_dedup_counts(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")],
        "id long, text string",
    )
    out = {r.id: r.dup_count for r in exact_dedup(df, "text", "id").collect()}
    assert out == {1: 2, 3: 1}  # case/whitespace-normalized match


def test_jaccard_identical_docs_score_one(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "z y x w v")],
        "id long, text string",
    )
    out = jaccard_pairs(df, "id", "text", n=3, threshold=0.5).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in out] == [(1, 2, 1.0)]


def test_lsh_finds_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "q r s t u v w")],
        "id long, text string",
    )
    out = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(df, "id", "text").collect()}
    assert (1, 2) in out
    assert (1, 3) not in out and (2, 3) not in out


def test_hash_split_disjoint_exhaustive_stable(spark):
    from listenbrainz_server_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(i,) for i in range(200)], "id long")
    out = hash_split(df, "id")
    rows = out.collect()
    assert len(rows) == 200  # exhaustive
    assert {r.split for r in rows} == {"train", "val", "test"}
    # stable: same assignment on recompute and independent of partitioning
    again = {r.id: r.split for r in hash_split(df.repartition(7), "id").collect()}
    assert {r.id: r.split for r in rows} == again
    # roughly 80/10/10
    from collections import Counter

    c = Counter(r.split for r in rows)
    assert c["train"] > c["val"] and c["train"] > c["test"]


def test_connected_components_groups(spark):
    from listenbrainz_server_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    # chain 1-2-3, pair 4-5, singleton 6
    pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
    out = {r.id: r.group_id for r in connected_components(nodes, pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_exact_substring_contamination_adversarial(spark):
    """The detector's raison d'être: a benchmark passage leaked into a
    training doc VERBATIM but tokenization-shifted (re-cased,
    re-punctuated, whitespace mangled) must be flagged; unrelated text
    must not. Offsets are chosen NOT multiples of the stride so the
    k+stride-1 alignment guarantee (not luck) is what fires."""
    from listenbrainz_server_spark.operators.dedup import (
        exact_substring_contamination,
    )

    leak = "The quick brown fox jumps over the lazy dog near the river bank"
    # Same characters after normalization, hostile formatting, and a
    # 13-char prefix (not a multiple of stride=8) shifting alignment.
    shifted = (
        "INTRO padding:   the QUICK-brown fox;; jumps OVER the lazy dog — "
        "near the RIVER bank!! trailing words here"
    )
    train = spark.createDataFrame(
        [
            (1, shifted),
            (2, "completely unrelated content about database join strategies"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, leak)], "doc_id long, text string")
    got = {
        (r.train_id, r.bench_id)
        for r in exact_substring_contamination(
            train, bench, "doc_id", "text", k=24, stride=8
        ).collect()
    }
    assert got == {(1, 100)}

    # Word-3-gram containment on the raw text misses this same leak at
    # the 0.5 threshold (tokens like 'quick-brown' and 'dog' + em-dash
    # shift the shingles) — the gap this operator exists to close.
    from listenbrainz_server_spark.operators.dedup import contamination_pairs

    word_hits = contamination_pairs(
        train, bench, "doc_id", "text", n=3, min_containment=0.5
    ).count()
    assert word_hits == 0


def test_simhash_identical_for_same_tokens(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a"), (3, "x y z")], "id long, text string"
    )
    out = {r.id: r.simhash for r in simhash(df, "id", "text").collect()}
    assert out[1] == out[2]  # order-insensitive token multiset
    assert out[1] != out[3]
    assert len(out[1]) == 16 and set(out[1]) <= {"0", "1"}


def test_priority_pick_overlap_fixture(spark):
    """The reference's top_genres overlap case (top_genres.py:62-79):
    the same (user, item, genre) arrives from several sources with
    DIFFERENT counts — the best-priority source's count must survive,
    not the min/max/sum of counts."""
    from listenbrainz_server_spark.operators.joins import priority_pick

    rows = [
        # (user, item, genre, priority, genre_count)
        (1, 10, "rock", 1, 7),   # recording tag — must win
        (1, 10, "rock", 2, 99),  # release-group tag — loses
        (1, 10, "rock", 3, 42),  # artist tag — loses
        (1, 10, "jazz", 2, 5),   # only release-group — wins by default
        (1, 11, "rock", 3, 3),   # only artist
        (2, 10, "rock", 2, 8),   # different user: priority-2 wins
        (2, 10, "rock", 3, 1),
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "item_id", "genre", "priority", "genre_count"]
    )
    got = {
        (r.user_id, r.item_id, r.genre): r.genre_count
        for r in priority_pick(df, ["user_id", "item_id", "genre"]).collect()
    }
    assert got == {
        (1, 10, "rock"): 7,
        (1, 10, "jazz"): 5,
        (1, 11, "rock"): 3,
        (2, 10, "rock"): 8,
    }


def test_contamination_pairs_planted(spark):
    """A train doc that quotes a benchmark doc verbatim is flagged with
    containment 1.0; an unrelated train doc is not flagged."""
    from listenbrainz_server_spark.operators.dedup import contamination_pairs

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            # Quotes the whole benchmark doc inside extra context.
            (1, "intro words the quick brown fox jumps over the lazy dog outro"),
            # Shares a few words but no 3-gram run above threshold.
            (2, "a quick dog sat over a brown log entirely elsewhere today"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.train_id: r.containment
        for r in contamination_pairs(
            train, bench, "doc_id", "text", n=3, min_containment=0.5
        ).collect()
    }
    assert got == {1: 1.0}


def test_pack_sequences_fixture(spark):
    """Concat-and-chunk invariants on a hand-computed fixture:
    contiguous offsets per shard, seq_id = offset // budget, straddle
    flagged exactly when a doc spans a window boundary."""
    from pyspark.sql import functions as F

    from listenbrainz_server_spark.operators.packing import pack_sequences

    # One shard (n_shards=1): sizes 4, 5, 3, 7 with budget 8 →
    # offsets 0, 4, 9, 12; seqs 0, 0, 1, 1; straddles F, T, F, T.
    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b c d e"), (2, "a b c"), (3, "a b c d e f g")],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.start_offset, r.seq_id, r.straddles)
        for r in pack_sequences(
            docs, "doc_id", F.size(F.split("text", " ")), budget=8, n_shards=1
        ).collect()
    }
    assert got == {
        0: (0, 0, False),
        1: (4, 0, True),
        2: (9, 1, False),
        3: (12, 1, True),
    }


def test_item_degree_cap_bounds_viral_item(spark):
    """The per-item degree cap must bound the pair blowup from a viral
    item: 40 users sharing one item generate C(40,2)=780 candidate
    pairs uncapped, but only C(5,2)=10 with cap=5 — and the kept users
    are the top-5 by playcount (deterministic tie-break)."""
    from pyspark.sql import functions as F

    from listenbrainz_server_spark.plans.cf import cosine_pairs_from_playcounts

    # Viral item 99: users 1..40, playcount = user id (10 > 9 > ...).
    rows = [(u, 99, u) for u in range(1, 41)]
    pc = spark.createDataFrame(rows, "user_id long, item_id long, playcount long")

    uncapped = cosine_pairs_from_playcounts(pc, threshold=0.0, item_degree_cap=None)
    capped = cosine_pairs_from_playcounts(pc, threshold=0.0, item_degree_cap=5)
    assert uncapped.count() == 780
    got = capped.collect()
    assert len(got) == 10
    # Top-5 by playcount are users 36..40.
    kept_users = {u for r in got for u in (r.user_a, r.user_b)}
    assert kept_users == {36, 37, 38, 39, 40}
    # The DEFAULT path (no argument) is the capped plan (VERDICT r2 #3):
    # 40 users on one viral item yield C(20,2)=190 pairs, never C(40,2).
    assert cosine_pairs_from_playcounts(pc, threshold=0.0).count() == 190


def test_approx_percentile_error_bound(spark):
    """percentile_approx(accuracy=1000) must land within the sketch's
    documented rank-error bound (1/accuracy) of the exact percentile
    on the sf0.001 orders table."""
    from pyspark.sql import functions as F

    from listenbrainz_server_spark.catalog import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    vals = sorted(r.o_totalprice for r in orders.select("o_totalprice").collect())
    n = len(vals)
    approx = orders.agg(
        F.percentile_approx("o_totalprice", 0.5, 1000).alias("p")
    ).collect()[0].p
    # Rank of the approximate answer must be within n/1000 + 1 of n/2.
    import bisect

    rank = bisect.bisect_left(vals, approx)
    assert abs(rank - n // 2) <= n / 1000 + 1, (rank, n)


def test_top_word_count_expression(spark):
    """top_word_count (sorted-run-length fold) must equal the explicit
    per-word max count — including ties, single-token docs, and a
    dominant repeated token."""
    from listenbrainz_server_spark.functions.text import top_word_count

    rows = [
        (1, "a b a c a"),          # a×3
        (2, "x"),                  # single token
        (3, "t t t t"),            # all same
        (4, "p q p q"),            # tie at 2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.top
        for r in df.select(
            "doc_id", top_word_count(F.split("text", " ")).alias("top")
        ).collect()
    }
    assert got == {1: 3, 2: 1, 3: 4, 4: 2}


def test_exact_substring_pairs_adversarial(spark):
    """Train-train twin of the contamination detector: two docs sharing
    a verbatim-but-reformatted normalized run >= k+stride-1 chars must
    pair up exactly once (canonical id order), unrelated docs must not,
    and word-shingle Jaccard at 0.5 misses the same pair."""
    from listenbrainz_server_spark.operators.dedup import (
        exact_substring_pairs,
        jaccard_pairs,
    )

    shared = "The quick brown fox jumps over the lazy dog near the river bank"
    reformatted = (
        "PREFIX pad:  the QUICK-brown fox;; jumps OVER the lazy dog — "
        "near the RIVER bank!! plus unrelated trailing tokens here now"
    )
    docs = spark.createDataFrame(
        [
            (5, shared),
            (9, reformatted),
            (7, "completely unrelated content about database join strategies"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b)
        for r in exact_substring_pairs(
            docs, "doc_id", "text", k=24, stride=8, min_matched=2
        ).collect()
    }
    assert got == {(5, 9)}

    miss = jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).count()
    assert miss == 0


def test_winnow_prefilter_recall_and_containment(spark):
    """The winnowed candidate gate (Schleimer et al. 2003): (a) recall
    1 for every guaranteed-detectable run — on a corpus whose shared
    runs are all >= k + w - 1, gated output == exhaustive output
    exactly; (b) in general the gated result is a SUBSET of the
    exhaustive one (the gate can only drop, never invent)."""
    from listenbrainz_server_spark.operators.dedup import (
        exact_substring_pairs,
        exact_substring_spans,
        winnow_candidate_docs,
    )

    shared = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [
            (5, f"AA leading bit. {shared} :: trailing junk follows here"),
            (9, f"Totally different OPENING words!! {shared} and a tail"),
            (7, "completely unrelated content about database join paths"),
            (3, "another disjoint doc mentioning optimizer cost models"),
        ],
        "doc_id long, text string",
    )
    cand = {r.doc_id for r in winnow_candidate_docs(docs, "doc_id", "text").collect()}
    assert cand == {5, 9}

    def key_rows(df):
        return {tuple(r) for r in df.collect()}

    for fn in (exact_substring_pairs, exact_substring_spans):
        gated = key_rows(fn(docs, "doc_id", "text", k=24, stride=8))
        exhaustive = key_rows(
            fn(docs, "doc_id", "text", k=24, stride=8, prefilter=False)
        )
        assert gated == exhaustive, fn.__name__

    # Containment on a corpus WITH a sub-guarantee luck match: 24-char
    # run aligned to doc 1's coarse grid (position 1) — found by the
    # exhaustive form, legitimately droppable by the gate.
    run24 = "zebra xylophone quartz jet"  # 26 chars, > k after norm
    lucky = spark.createDataFrame(
        [(1, run24 + " tail one here"), (2, "lead-in words " + run24)],
        "doc_id long, text string",
    )
    gated = key_rows(exact_substring_pairs(lucky, "doc_id", "text"))
    exhaustive = key_rows(
        exact_substring_pairs(lucky, "doc_id", "text", prefilter=False)
    )
    assert gated <= exhaustive
    assert exhaustive, "luck-aligned 24-gram must pair in exhaustive mode"


def test_substring_spans_delta_equals_full_restriction(spark):
    """Delta maintenance ≡ full recompute: exact_substring_spans_delta
    on (corpus, batch) must equal the exhaustive full-corpus span
    report restricted to (src in corpus, dst in batch) — the
    affected-key contract of the incremental tier. Also pins the
    batch-scaling claim: the plan's stride-1 side reads only the
    delta frame."""
    from listenbrainz_server_spark.operators.dedup import (
        exact_substring_spans,
        exact_substring_spans_delta,
    )

    shared = "the quick brown fox jumps over the lazy dog near the river bank"
    older = "an old corpus doc with its own content about query planners"
    corpus = spark.createDataFrame(
        [(1, f"corpus doc one. {shared} then more"), (2, older)],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [
            (11, f"new arrival!! {shared} trailing"),
            (12, "fresh unrelated text about vectorized execution"),
        ],
        "doc_id long, text string",
    )
    got = {
        tuple(r)
        for r in exact_substring_spans_delta(
            corpus, delta, "doc_id", "text"
        ).collect()
    }
    all_docs = corpus.unionByName(delta)
    want = {
        tuple(r)
        for r in exact_substring_spans(
            all_docs, "doc_id", "text", prefilter=False
        ).collect()
        if r.src_id in (1, 2) and r.dst_id in (11, 12)
    }
    assert got == want and got, "delta result must equal full-recompute slice"


def test_winnow_prefilter_plan_gates_fine_explode(spark):
    """Plan shape: the candidate semi-join must sit BELOW the stride-1
    gram generate — the explode runs over the gated doc set, so
    non-candidate documents never produce char-level rows."""
    from listenbrainz_server_spark.operators.dedup import exact_substring_spans

    docs = spark.createDataFrame(
        [(1, "some text for the plan only, long enough for a gram")],
        "doc_id long, text string",
    )
    plan = (
        exact_substring_spans(docs, "doc_id", "text")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    gen = plan.index("Generate explode")  # first (fine or coarse) explode
    semi = plan.index("LeftSemi")
    assert semi > gen, "semi-join gate must be under the explode:\n" + plan


def test_exact_substring_spans_offsets_extract_equal_text(spark):
    """Span report self-validation: for every reported run, slicing the
    two docs' NORMALIZED texts at the reported (start, end) offsets
    must yield byte-identical strings — the strongest possible check
    that the diagonal/island arithmetic is right. Also pins: the known
    shared run is recovered as ONE maximal island (not fragments), its
    certified extent covers the full shared run up to grid slack, and
    the unrelated doc appears in no span."""
    import re

    from listenbrainz_server_spark.operators.dedup import exact_substring_spans

    shared = "the quick brown fox jumps over the lazy dog near the river bank"
    texts = {
        5: f"AA leading bit. {shared} :: trailing junk follows here",
        9: f"Totally different OPENING words!! {shared} and another tail",
        7: "completely unrelated content about database join strategies",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    spans = exact_substring_spans(docs, "doc_id", "text", k=24, stride=8).collect()

    def norm(s: str) -> str:
        return re.sub(r"[^a-z0-9]+", " ", s.lower()).strip()

    assert spans, "shared 64-char run must be detected"
    for r in spans:
        assert {r.src_id, r.dst_id} == {5, 9}
        a = norm(texts[r.src_id])[r.src_start - 1 : r.src_end]
        b = norm(texts[r.dst_id])[r.dst_start - 1 : r.dst_end]
        assert a == b and len(a) == r.span_chars
    # One maximal island per direction, covering >= the grid-certain
    # extent of the 64-char run (64 - (stride-1) slack on each end is
    # the worst case; a single fragment must still certify >= 40).
    per_dir = {}
    for r in spans:
        per_dir.setdefault((r.src_id, r.dst_id), []).append(r)
    for runs in per_dir.values():
        assert len(runs) == 1
        assert runs[0].span_chars >= 40


def test_interleave_domains_deterministic_and_weighted(spark):
    """x_interleave_domains: copies are deterministic across runs; a
    weight-1.0 source emits exactly one copy per doc; a weight-2.5
    source emits >= 2 copies per doc; interleave keys are unique."""
    from listenbrainz_server_spark.queries import load_all

    fn = load_all()["x_interleave_domains"].fn
    sf = "/root/testdata/sf0.001"
    a = fn(spark, sf).collect()
    b = fn(spark, sf).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    rows = [r.asDict() for r in a]
    keys = [r["interleave_key"] for r in rows]
    assert len(keys) == len(set(keys))

    from collections import Counter

    per_doc = Counter((r["source"], r["doc_id"]) for r in rows)
    for (src, _doc), n in per_doc.items():
        srcnum = int("".join(ch for ch in src if ch.isdigit()))
        if srcnum % 4 == 1:
            assert n == 1, (src, n)
        elif srcnum % 4 == 3:
            assert n >= 2, (src, n)


def test_sq8_topk_recall_vs_exact(spark):
    """SQ8 is an approximation tier with exact re-rank: its top-5 per
    query must overlap heavily with the exact brute-force top-5 (the
    8-bit grid rarely perturbs the candidate boundary)."""
    from listenbrainz_server_spark.queries import load_all

    reg = load_all()
    sf = "/root/testdata/sf0.001"
    exact = {
        (r.qid, r.nid) for r in reg["v_cosine_topk"].fn(spark, sf).collect()
    }
    sq8 = {(r.qid, r.nid) for r in reg["v_sq8_topk"].fn(spark, sf).collect()}
    assert len(sq8 & exact) / len(exact) >= 0.8


def test_minhash_estimate_calibration(spark):
    """The signature-agreement estimate must track exact Jaccard on
    the LSH candidate set: identical docs estimate 1.0 exactly, and
    the mean absolute error stays within the H=16 sketch's standard
    error budget."""
    from listenbrainz_server_spark.queries import load_all

    rows = load_all()["d_minhash_estimate"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "LSH candidates expected on the fixture"
    errs = [r.abs_err for r in rows]
    assert sum(errs) / len(errs) <= 0.25
    for r in rows:
        if r.jaccard == 1.0:
            assert r.est_jaccard == 1.0


def test_prefix_topk_recall_vs_exact(spark):
    """Prefix-dim candidates (16/64 dims) + exact re-rank: on the
    ISOTROPIC fixture the 16-dim prefix carries ~1/4 of the cosine
    signal, so recall@5 lands near the theoretical worst case (~0.3
    measured; see the query's distribution caveat) — the bound here
    asserts it stays far above the ~1% random-candidate baseline
    without overclaiming front-loaded-embedding behavior."""
    from listenbrainz_server_spark.queries import load_all

    reg = load_all()
    sf = "/root/testdata/sf0.001"
    exact = {
        (r.qid, r.nid) for r in reg["v_cosine_topk"].fn(spark, sf).collect()
    }
    pre = {(r.qid, r.nid) for r in reg["v_prefix_topk"].fn(spark, sf).collect()}
    assert len(pre & exact) / len(exact) >= 0.2


def test_bpe_train_greedy_sequence(spark):
    """BPE trainer: the greedy merge sequence on a hand-computable
    fixture. 'aaab'x3 + 'aab'x2: (a,a) counts 8 and merges first;
    round two ties (a,b)=3 vs (aa,a)=3 and lexicographic tie-break
    picks (a,b); merging is left-to-right non-overlapping, so 'aaa'
    becomes [aa, a], never [a, aa]."""
    from listenbrainz_server_spark.operators.bpe import bpe_train, merge_pair

    wf = spark.createDataFrame([("aaab", 3), ("aab", 2)], "w string, n int")
    merges = bpe_train(wf, n_merges=2)
    assert merges == [(1, "a", "a", "aa", 8), (2, "a", "b", "ab", 3)]

    row = spark.createDataFrame([(["a", "a", "a"],)], "s array<string>").select(
        merge_pair(F.col("s"), "a", "a").alias("m")
    ).first()
    assert row.m == ["aa", "a"]


def test_t_bpe_train_matches_pure_python_oracle(spark):
    """VERDICT r5 #8: exact-merge-sequence oracle for the iterative
    trainer (the MMR-numpy-oracle pattern for the other rows-only
    query). An independent pure-Python greedy BPE over the sf0.001
    corpus word-frequency table must reproduce t_bpe_train's output
    EXACTLY — ranks, pairs, merged symbols, weighted pair counts, and
    the (count desc, left, right) tie-breaks — across all 8 rounds of
    re-counting on post-merge symbol sequences."""
    import collections

    from listenbrainz_server_spark.queries.text import bpe_train_corpus_raw

    sf = "/root/testdata/sf0.001"
    got = sorted(tuple(r) for r in bpe_train_corpus_raw(spark, sf).collect())

    wf: collections.Counter = collections.Counter()
    for r in spark.read.parquet(f"{sf}/documents.parquet").select("text").collect():
        for w in r.text.split(" "):
            if w:
                wf[w] += 1
    syms = {w: tuple(w) for w in wf}
    expect = []
    for rank in range(1, 9):
        counts: collections.Counter = collections.Counter()
        for w, f in wf.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += f
        if not counts:
            break
        (left, right), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if c < 2:
            break
        expect.append((rank, left, right, left + right, c))
        for w in syms:  # left-to-right non-overlapping merge
            s = syms[w]
            out: list = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = tuple(out)
    assert got == sorted(expect) and len(got) == 8, (got, expect)


def test_opq_train_properties(spark):
    """OPQ trainer invariants on the sf0.001 embeddings: R is
    orthonormal, the training-MSE trace is monotonically
    non-increasing (the alternation is blockwise descent of a shared
    objective), trace[0] equals the plain-PQ training MSE (same
    sample, same seeds), and the final MSE strictly improves on it —
    the fixture embeddings are clustered, so the rotation has real
    correlation structure to exploit."""
    import numpy as np

    from listenbrainz_server_spark.catalog import load_table
    from listenbrainz_server_spark.operators.similarity import (
        _pq_reconstruct,
        opq_train,
        pq_train_codebooks,
        unit_vectors,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    unit = unit_vectors(emb, "vec_id", "embedding", pin=True)
    R, books, trace = opq_train(unit, "vec", 64)
    Rm = np.array(R)
    assert np.abs(Rm.T @ Rm - np.eye(64)).max() < 1e-12
    assert all(
        trace[i] >= trace[i + 1] - 1e-12 for i in range(len(trace) - 1)
    )
    # trace[0] == plain PQ training MSE (identical fit path).
    V = np.array([r.vec for r in unit.collect()])
    pq_books = np.array(pq_train_codebooks(unit, "vec", 64))
    _, e_pq = _pq_reconstruct(V, pq_books, 4)
    assert abs(trace[0] - e_pq.mean()) < 1e-9
    assert trace[-1] < trace[0] * 0.95  # real improvement, not noise


def test_quality_drift_cusum_fires_on_decay(spark, tmp_path):
    """The per-source CUSUM monitor must ALARM on a source whose
    quality level slides after the baseline window and stay quiet on
    a stable source. Synthetic corpus: 'stable' keeps clean prose in
    every batch; 'decay' ships clean prose in batch 0 (the baseline)
    then pure punctuation noise (strongly negative quality score)."""
    from listenbrainz_server_spark.queries.text import (
        _DRIFT_BATCH,
        t_quality_drift_cusum,
    )

    good = "the quick brown fox jumps over the lazy dog and runs home"
    bad = "#### $$$$ !!!! %%%% ???? &&&& @@@@ ^^^^ **** ((((("
    rows = []
    did = 0
    for batch in range(4):
        for _ in range(_DRIFT_BATCH):
            rows.append((did, good, "en", "stable", len(good)))
            did += 1
            text = good if batch == 0 else bad
            rows.append((did, text, "en", "decay", len(text)))
            did += 1
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
              "n_chars bigint"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {
        (r.source, r.batch): r.alarm
        for r in t_quality_drift_cusum(spark, str(tmp_path)).collect()
    }
    assert not any(v for (s, _), v in out.items() if s == "stable")
    assert not out[("decay", 0)]  # baseline batch can't alarm
    assert out[("decay", 2)] and out[("decay", 3)]  # drift accumulates


def test_mmr_arrow_matches_unrolled(spark):
    """The Arrow mmr_rerank operator (numpy greedy, 6dp-rounded
    objective) and the unrolled DataFrame form behind
    v_mmr_exact_rerank (exact integer-unit objective) must pick the
    SAME (qid, rank) -> nid sequence on the same exact top-20
    candidates — this is what lets the SQL value oracle transitively
    verify the Arrow operator's greedy math."""
    from listenbrainz_server_spark.catalog import load_table
    from listenbrainz_server_spark.operators.similarity import (
        brute_force_topk,
        mmr_rerank,
    )
    from listenbrainz_server_spark.queries.similarity import (
        _MMR_CANDS,
        _MMR_K,
        _MMR_LAM,
        mmr_exact_unrolled,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    cands = brute_force_topk(
        emb, "vec_id", "embedding", k=_MMR_CANDS
    ).select("qid", "nid", "score")
    arrow = {
        (r.qid, r.rank): r.nid
        for r in mmr_rerank(
            emb, cands, "vec_id", "embedding", k=_MMR_K, lam=_MMR_LAM
        ).collect()
    }
    unrolled = {
        (r.qid, r.rank): r.nid
        for r in mmr_exact_unrolled(spark, sf).collect()
    }
    assert arrow == unrolled and len(arrow) > 0


def test_bpe_oracle_encoding_cases(spark):
    """The DuckDB value oracle's double-separator merge encoding must
    reproduce the Spark merge_pair fold exactly on the adversarial
    cases: consecutive overlaps ('aaa' -> [aa,a], 'a a a a' ->
    [aa,aa]) and suffix/prefix false-match bait (symbol 'xa' next to
    'aby' must NOT match merge (a, ab))."""
    from listenbrainz_server_spark.operators.bpe import merge_pair
    from listenbrainz_server_spark.queries.text import _BPE_SEP as S

    def sql_apply(syms, left, right):
        joined = S * 2 + (S * 2).join(syms) + S * 2
        out = joined.replace(
            S + left + S * 2 + right + S, S + left + right + S
        )
        return [x for x in out.split(S) if x]

    cases = [
        (["a", "a", "a"], "a", "a"),
        (["a", "a", "a", "a"], "a", "a"),
        (["xa", "aby"], "a", "ab"),
        (["a", "ab"], "a", "ab"),
        (["ab", "ab", "ab"], "ab", "ab"),
        (["x", "a", "b", "y"], "a", "b"),
    ]
    for syms, left, right in cases:
        spark_out = (
            spark.createDataFrame([(syms,)], "s array<string>")
            .select(merge_pair(F.col("s"), left, right).alias("m"))
            .first()
            .m
        )
        assert sql_apply(syms, left, right) == spark_out, (syms, left, right)


def test_pca_prefix_beats_raw_prefix_recall(spark):
    """The prefix tier's documented caveat, validated end to end: on
    the isotropic fixture, candidate generation on the first 16
    PRINCIPAL components must recover substantially more of the exact
    top-5 than the same-width raw-dimension prefix (PCA front-loads
    variance; raw dims split it evenly)."""
    from listenbrainz_server_spark.queries import load_all
    from listenbrainz_server_spark.queries.similarity import pca_prefix_topk_raw

    reg = load_all()
    sf = "/root/testdata/sf0.001"
    exact = {
        (r.qid, r.nid) for r in reg["v_cosine_topk"].fn(spark, sf).collect()
    }
    raw = {(r.qid, r.nid) for r in reg["v_prefix_topk"].fn(spark, sf).collect()}
    pca = {(r.qid, r.nid) for r in pca_prefix_topk_raw(spark, sf).collect()}
    recall_raw = len(raw & exact) / len(exact)
    recall_pca = len(pca & exact) / len(exact)
    assert recall_pca > recall_raw + 0.05, (recall_raw, recall_pca)


def test_mmr_lambda_one_is_plain_topk(spark):
    """At lambda=1.0 the diversity penalty vanishes, so MMR must equal
    the relevance top-k exactly — same (qid, nid, rank) triples."""
    from pyspark.sql import functions as F

    from listenbrainz_server_spark.catalog import load_table
    from listenbrainz_server_spark.operators.similarity import (
        brute_force_topk,
        mmr_rerank,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(100)
    cands = brute_force_topk(emb, "vec_id", "embedding", k=20)
    plain = {
        (r.qid, r.nid, r.rank)
        for r in cands.where(F.col("rank") <= 5).collect()
    }
    mmr = {
        (r.qid, r.nid, r.rank)
        for r in mmr_rerank(emb, cands, "vec_id", "embedding", k=5, lam=1.0).collect()
    }
    assert mmr == plain


def test_mmr_diversifies_and_keeps_top1(spark):
    """At lambda=0.7: rank 1 is always the relevance top-1 (empty
    penalty on the first pick), every selected set is 5 distinct
    candidates, the selection actually differs from plain top-5
    somewhere, and the mean intra-set similarity drops vs plain
    top-5 (the point of MMR)."""
    import numpy as np
    from pyspark.sql import functions as F

    from listenbrainz_server_spark.catalog import load_table
    from listenbrainz_server_spark.operators.similarity import (
        brute_force_topk,
        mmr_rerank,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(100)
    cands = brute_force_topk(emb, "vec_id", "embedding", k=20)
    out = mmr_rerank(emb, cands, "vec_id", "embedding", k=5, lam=0.7)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append(r)
    top1 = {r.qid: r.nid for r in cands.where(F.col("rank") == 1).collect()}
    for qid, grp in by_q.items():
        nids = [r.nid for r in grp]
        assert len(nids) == 5 == len(set(nids))
        first = min(grp, key=lambda r: r.rank)
        assert first.nid == top1[qid]

    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()
    }

    def mean_intra_sim(sets):
        sims = []
        for nids in sets:
            V = np.stack([vecs[n] / np.linalg.norm(vecs[n]) for n in nids])
            S = V @ V.T
            iu = np.triu_indices(len(nids), k=1)
            sims.append(S[iu].mean())
        return float(np.mean(sims))

    plain_sets = {}
    for r in cands.where(F.col("rank") <= 5).collect():
        plain_sets.setdefault(r.qid, []).append(r.nid)
    mmr_sets = {q: [r.nid for r in grp] for q, grp in by_q.items()}
    assert any(set(mmr_sets[q]) != set(plain_sets[q]) for q in mmr_sets)
    assert mean_intra_sim(mmr_sets.values()) < mean_intra_sim(plain_sets.values())


def test_mmr_matches_numpy_reference(spark):
    """Exact-output pin for the MMR greedy loop (VERDICT r4 #7): an
    independent 30-line numpy implementation of Carbonell & Goldstein's
    objective — same rounding and (−obj, nid) tie order — must produce
    the identical (qid, nid, rank, mmr_score) quadruples as the Arrow
    operator on a seeded fixture. This is the cross-check the
    invariants (top-1, diversity, degradation) can't give: the exact
    numeric trajectory of every greedy step."""
    import numpy as np
    from listenbrainz_server_spark.catalog import load_table
    from listenbrainz_server_spark.operators.similarity import (
        brute_force_topk,
        mmr_rerank,
    )

    k, lam, dp = 5, 0.7, 6
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(80)
    cands = brute_force_topk(emb, "vec_id", "embedding", k=12)
    got = {
        (r.qid, r.rank): (r.nid, r.mmr_score)
        for r in mmr_rerank(emb, cands, "vec_id", "embedding", k=k, lam=lam).collect()
    }

    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb.collect()}
    by_q: dict = {}
    for r in cands.collect():
        by_q.setdefault(r.qid, []).append((r.nid, r.score))

    expected = {}
    for qid, cl in by_q.items():
        cl = sorted(cl, key=lambda t: (-t[1], t[0]))
        nids = [n for n, _ in cl]
        rel = np.array([s for _, s in cl])
        V = np.stack([vecs[n] for n in nids])
        nrm = np.linalg.norm(V, axis=1)
        nrm[nrm == 0] = 1.0
        S = np.round((V / nrm[:, None]) @ (V / nrm[:, None]).T, dp)
        sel: list = []
        rem = list(range(len(nids)))
        for rank in range(1, min(k, len(nids)) + 1):
            best = min(
                rem,
                key=lambda i: (
                    -round(
                        lam * rel[i]
                        - (1 - lam) * max((S[i][j] for j in sel), default=0.0),
                        dp,
                    ),
                    nids[i],
                ),
            )
            obj = round(
                lam * rel[best]
                - (1 - lam) * max((S[best][j] for j in sel), default=0.0),
                dp,
            )
            sel.append(best)
            rem.remove(best)
            expected[(qid, rank)] = (nids[best], obj)

    assert got == expected


def test_mmr_lsh_candidates_cross_check(spark):
    """The registered v_mmr_rerank feeds from the multi-probe LSH ANN
    tier (no all-pairs stage anywhere in its plan). Fixture-scale
    overlap cross-check vs the exact-candidate variant (the
    v_ann_recall_report pattern): on the isotropic-noise fixture —
    where candidate recall is inherently ceiling-limited because
    'neighbors' are barely above random — the ANN-fed selections must
    still overlap the exact-fed selections far above the 1% random
    baseline, and every query must still get 5 distinct picks."""
    from listenbrainz_server_spark.catalog import load_table
    from listenbrainz_server_spark.operators.similarity import (
        brute_force_topk,
        mmr_rerank,
    )
    from listenbrainz_server_spark.queries.similarity import mmr_rerank_lsh_raw

    sf = "/root/testdata/sf0.001"
    lsh_rows = mmr_rerank_lsh_raw(spark, sf).collect()
    lsh_fed = {(r.qid, r.nid) for r in lsh_rows}
    per_q: dict = {}
    for r in lsh_rows:
        per_q.setdefault(r.qid, set()).add(r.nid)
    assert all(len(s) == 5 for s in per_q.values())
    emb = load_table(spark, sf, "embeddings")
    exact_cands = brute_force_topk(emb, "vec_id", "embedding", k=20)
    exact_fed = {
        (r.qid, r.nid)
        for r in mmr_rerank(emb, exact_cands, "vec_id", "embedding", k=5, lam=0.7).collect()
    }
    overlap = len(lsh_fed & exact_fed) / len(exact_fed)
    assert overlap > 0.3, overlap  # measured 0.415; random baseline ~0.01


def test_pii_mask_release_is_k_anonymous(spark):
    """The granularity x_pii_mask actually releases ($500 balance
    buckets) must pass the k=5 audit that the finer $100 candidate
    (x_kanon_audit) fails — the two queries together are the
    generalize-then-audit loop."""
    from pyspark.sql import functions as F

    from listenbrainz_server_spark.queries import load_all

    reg = load_all()
    sf = "/root/testdata/sf0.01"
    released = reg["x_pii_mask"].fn(spark, sf)
    cells = released.groupBy("c_mktsegment", "acctbal_bucket").count()
    assert cells.agg(F.min("count")).first()[0] >= 5
    assert reg["x_kanon_audit"].fn(spark, sf).count() > 0


def test_hll_rolling_matches_exact(spark):
    """The sketch-union rolling distinct must track the exact rolling
    distinct within HLL error (lgConfigK=12 → ~2%; assert 5%). The
    query is now self-auditing (r9): it carries the exact twin and
    the <=5% boolean itself — this test pins the exact twin against
    an independent local computation and the booleans against True."""
    from pyspark.sql import functions as F

    from listenbrainz_server_spark.catalog import load_table
    from listenbrainz_server_spark.queries import load_all

    sf = "/root/testdata/sf0.01"
    rows = load_all()["x_hll_rolling_distinct"].fn(spark, sf).collect()
    assert rows and all(r.est_within_5pct for r in rows)
    ev = load_table(spark, sf, "events").select(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    )
    pairs = ev.distinct().collect()
    exact_q = {r.day: r.exact_rolling for r in rows}
    for day in exact_q:
        exact = len(
            {
                p.user_id
                for p in pairs
                if 0 <= (day - p.day).days <= 6
            }
        )
        assert exact_q[day] == exact, (day, exact_q[day], exact)


def test_quality_classifier_auc(spark):
    """The label is a function of two of the features, so the fitted
    model must separate near-perfectly — AUC > 0.95 — and folding the
    coefficients into column expressions must agree with the gate on
    almost every doc."""
    from pyspark.sql import functions as F

    from listenbrainz_server_spark.queries.ml import quality_classifier_scores

    out = quality_classifier_scores(spark, "/root/testdata/sf0.01").collect()
    # Exact AUC by rank-sum (small n).
    pos = sorted(r.prob for r in out if r.label == 1)
    neg = sorted(r.prob for r in out if r.label == 0)
    assert pos and neg
    import bisect

    wins = sum(
        bisect.bisect_left(neg, p) + 0.5 * (bisect.bisect_right(neg, p) - bisect.bisect_left(neg, p))
        for p in pos
    )
    auc = wins / (len(pos) * len(neg))
    assert auc > 0.95, auc
    agree = sum(1 for r in out if r.prediction == r.label) / len(out)
    assert agree > 0.9, agree


def test_dp_counts_seed_is_load_bearing(spark):
    """The Laplace noise must be a function of the release seed: two
    different seeds give different n_noisy for the same true counts
    (a secret out-of-band seed is what makes the release private —
    ADVICE r6). The default public seed reproduces the registered
    demo output exactly."""
    from listenbrainz_server_spark.queries import load_all
    from listenbrainz_server_spark.queries.audits import x_dp_counts

    sf = "/root/testdata/sf0.001"
    pub = {r.source: r.n_noisy for r in x_dp_counts(spark, sf).collect()}
    reg = {
        r.source: r.n_noisy
        for r in load_all()["x_dp_counts"].fn(spark, sf).collect()
    }
    assert pub == reg
    secret = {
        r.source: r.n_noisy
        for r in x_dp_counts(spark, sf, release_seed="s3cr3t").collect()
    }
    assert set(secret) == set(pub)
    assert secret != pub  # noise moved with the seed
    # Noise stays bounded-ish: |n_noisy - n| rarely exceeds ~10/eps.
    from listenbrainz_server_spark.catalog import load_table
    import pyspark.sql.functions as F

    true = {
        r.source: r.n
        for r in load_table(spark, sf, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for s, v in secret.items():
        assert abs(v - true[s]) < 25.0


def test_stratified_sample_exact_integer_quota(spark):
    """Quota must be exactly ceil(n/10) per stratum — integer
    arithmetic, immune to the CEIL(n*0.1) double overshoot at n=30
    (ADVICE r6)."""
    import math

    from listenbrainz_server_spark.catalog import load_table
    from listenbrainz_server_spark.queries import load_all
    import pyspark.sql.functions as F

    sf = "/root/testdata/sf0.001"
    got = (
        load_all()["x_stratified_sample"].fn(spark, sf)
        .groupBy("source")
        .count()
        .collect()
    )
    n_by = {
        r.source: r.n
        for r in load_table(spark, sf, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got
    for r in got:
        assert r["count"] == math.ceil(n_by[r.source] / 10), (
            r.source,
            r["count"],
            n_by[r.source],
        )
    # The integer form is exact for ALL bigint n — including n beyond
    # 2^53 where n*0.1 loses integer resolution entirely. (The
    # advisor's n=30 repro doesn't fire on IEEE doubles — 30*0.1
    # rounds to exactly 3.0 — but (n+9) div 10 needs no such luck.)
    df = spark.range(30).select(
        F.col("id").alias("doc_id"), F.lit("s").alias("source")
    )
    quota = df.groupBy("source").agg(
        F.expr("(count(*) + 9) div 10").alias("q")
    ).collect()[0]
    assert quota.q == 3
    big = (1 << 55) + 3  # n*0.1 in doubles cannot represent this quota
    assert (big + 9) // 10 != math.ceil(big * 0.1)


def test_cms_heavy_hitters_invariants(spark):
    """CMS guarantees: est(k) >= exact(k) for every key (min over rows
    of counters that each include all of k's increments), and the
    sketch is CONSTANT-size (<= D*W cells regardless of input)."""
    from listenbrainz_server_spark.queries.sketches import (
        _CMS_D,
        _CMS_W,
        x_heavy_hitters,
    )
    from tests.conftest import SF_SMOKE

    rows = x_heavy_hitters(spark, SF_SMOKE).collect()
    assert 1 <= len(rows) <= 20  # sf0.001 has fewer than 20 users
    assert all(r.overcount >= 0 for r in rows)
    assert all(r.cms_est == r.exact_n + r.overcount for r in rows)
    assert _CMS_D * _CMS_W < 10_000  # the bounded-state contract


# --------------------------------------------------------------------------
# t-digest (operators/tdigest.py)
# --------------------------------------------------------------------------
def test_tdigest_rank_accuracy_across_distributions():
    """Pure-python digest: for uniform, lognormal (heavy tail),
    bimodal, and near-constant data, the TRUE rank of each estimated
    quantile must sit within 0.01 of the target (delta=100 is ~1e-3
    at the median; tails are tighter by the scale function)."""
    import numpy as np

    from listenbrainz_server_spark.operators.tdigest import (
        build_digest,
        quantile_of,
    )

    rng = np.random.RandomState(7)
    datasets = {
        "uniform": rng.uniform(0, 1, 20000),
        "lognormal": rng.lognormal(0, 2.0, 20000),
        "bimodal": np.concatenate(
            [rng.normal(-5, 1, 10000), rng.normal(5, 1, 10000)]
        ),
        "mostly_constant": np.concatenate(
            [np.zeros(19000), rng.uniform(0, 1, 1000)]
        ),
    }
    for name, vals in datasets.items():
        m, w = build_digest(vals)
        assert len(m) <= 120, f"{name}: digest exceeded O(delta) size"
        s = np.sort(vals)
        for q in (0.01, 0.25, 0.5, 0.75, 0.99):
            est = quantile_of(m, w, q)
            # Rank-interval audit: under ties a single correct value
            # occupies a rank RANGE [lo, hi]; the estimate passes if
            # that range touches [q-0.01, q+0.01].
            lo = np.searchsorted(s, est, side="left") / len(s)
            hi = np.searchsorted(s, est, side="right") / len(s)
            assert lo <= q + 0.01 and hi >= q - 0.01, (
                f"{name} q={q}: rank interval [{lo}, {hi}]"
            )


def test_tdigest_merge_equals_whole():
    """Mergeability: digesting 8 shards then merging must estimate
    the same quantiles (within rank tolerance) as one digest of the
    whole — the property that makes per-day persisted sketches
    unionable."""
    import numpy as np

    from listenbrainz_server_spark.operators.tdigest import (
        build_digest,
        merge_centroid_sets,
        quantile_of,
    )

    rng = np.random.RandomState(11)
    vals = rng.lognormal(1.0, 1.5, 16000)
    shards = np.array_split(vals, 8)
    parts = [build_digest(s) for s in shards]
    mm, mw = merge_centroid_sets(
        [p[0] for p in parts], [p[1] for p in parts]
    )
    assert sum(mw) == len(vals)  # no mass lost in the merge
    s = np.sort(vals)
    for q in (0.1, 0.5, 0.9):
        est = quantile_of(mm, mw, q)
        rank = (
            np.searchsorted(s, est, side="left")
            + np.searchsorted(s, est, side="right")
        ) / (2 * len(s))
        assert abs(rank - q) <= 0.01, f"merged q={q}: rank {rank}"


def test_tdigest_spark_pipeline_and_union(spark):
    """The Spark build->merge->quantile path agrees with the exact
    percentile within rank tolerance, and merge_digests over the union
    of two halves' digests equals the merged whole (persist-then-union
    contract)."""
    import numpy as np
    from pyspark.sql import functions as F

    from listenbrainz_server_spark.operators.tdigest import (
        group_tdigest_quantiles,
        merge_digests,
        partition_digests,
        quantile_of,
    )

    rng = np.random.RandomState(3)
    rows = [("a", float(v)) for v in rng.lognormal(0, 1, 4000)] + [
        ("b", float(v)) for v in rng.uniform(-10, 10, 4000)
    ]
    df = spark.createDataFrame(rows, "g string, v double").repartition(8)

    est = {
        (r.g, r.q): r.est
        for r in group_tdigest_quantiles(
            df, "g", "v", qs=(0.25, 0.5, 0.75)
        ).collect()
    }
    vals = {"a": [], "b": []}
    for g, v in rows:
        vals[g].append(v)
    for g in ("a", "b"):
        s = np.sort(vals[g])
        for q in (0.25, 0.5, 0.75):
            rank = (
                np.searchsorted(s, est[(g, q)], "left")
                + np.searchsorted(s, est[(g, q)], "right")
            ) / (2 * len(s))
            assert abs(rank - q) <= 0.01, f"{g} q={q}"

    # union of per-half digests == digest over the union, in estimate
    h1 = df.where(F.col("v") >= 0)
    h2 = df.where(F.col("v") < 0)
    u = merge_digests(
        merge_digests(partition_digests(h1, "g", "v"), "g").unionByName(
            merge_digests(partition_digests(h2, "g", "v"), "g")
        ),
        "g",
    ).collect()
    for r in u:
        s = np.sort(vals[r.g])
        assert abs(sum(r.weights) - len(s)) < 1e-6
        med = quantile_of(r.means, r.weights, 0.5)
        rank = (
            np.searchsorted(s, med, "left") + np.searchsorted(s, med, "right")
        ) / (2 * len(s))
        assert abs(rank - 0.5) <= 0.01


def test_partitioned_running_sum_matches_global(spark):
    """Distributed prefix sum == the single-task global window, for
    multiple value columns, across range-partition boundaries and
    equal-key ties (unique tiebreak in the order)."""
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from listenbrainz_server_spark.operators.prefix import (
        partitioned_running_sum,
    )

    rng = np.random.RandomState(5)
    rows = [
        (int(t), int(i), int(rng.randint(-3, 4)), float(rng.uniform(-1, 1)))
        for i, t in enumerate(rng.randint(0, 50, 5000))
    ]
    df = spark.createDataFrame(
        rows, "t int, k int, x int, y double"
    ).repartition(16)

    got = {
        (r.t, r.k): (r.cum_x, r.cum_y)
        for r in partitioned_running_sum(
            df, order_cols=["t", "k"], value_cols=["x", "y"]
        ).collect()
    }
    w = Window.orderBy("t", "k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        (r.t, r.k): (r.cx, r.cy)
        for r in df.select(
            "t", "k",
            F.sum("x").over(w).alias("cx"),
            F.sum("y").over(w).alias("cy"),
        ).collect()
    }
    assert set(got) == set(want)
    for key, (cx, cy) in want.items():
        gx, gy = got[key]
        assert gx == cx, key
        assert abs(gy - cy) < 1e-9, key


def test_reservoir_sample_weighting_bias(spark):
    """A-Res with w = n_chars must overrepresent long documents: the
    sample's mean n_chars exceeds the corpus mean (size-biased
    sampling pulls the mean toward E[X^2]/E[X] > E[X]), and per
    source exactly min(10, source size) distinct docs are drawn."""
    from pyspark.sql import functions as F

    from listenbrainz_server_spark.queries import load_all

    sf = "/root/testdata/sf0.01"
    sample = load_all()["x_reservoir_sample"].fn(spark, sf)
    per_src = sample.groupBy("source").agg(
        F.count_distinct("doc_id").alias("nd"), F.count(F.lit(1)).alias("n")
    )
    src_sizes = {
        r.source: r.c
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    for r in per_src.collect():
        want = min(10, src_sizes[r.source])  # reservoir of n < k = all n
        assert r.nd == want and r.n == want, (r, want)
    got_mean = sample.agg(F.avg("n_chars")).first()[0]
    corpus_mean = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .agg(F.avg("n_chars"))
        .first()[0]
    )
    assert got_mean > corpus_mean * 1.05, (got_mean, corpus_mean)


def test_ffd_pack_matches_pure_python(spark):
    """Per-doc FFD bin assignment == a pure-Python third
    implementation of first-fit decreasing over the same shard order,
    and no bin exceeds the budget."""
    from pyspark.sql import functions as F

    from listenbrainz_server_spark.operators.packing import ffd_pack

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    tok = F.size(F.split(F.col("text"), " ")).cast("bigint")
    got = {
        (r.doc_id): (r.shard, r.bin_id)
        for r in ffd_pack(docs, "doc_id", tok, budget=256, n_shards=8).collect()
    }

    rows = [
        (r.doc_id, r.doc_id % 8, len(r.text.split(" ")))
        for r in docs.select("doc_id", "text").collect()
    ]
    by_shard: dict = {}
    for did, sh, t in rows:
        by_shard.setdefault(sh, []).append((t, did))
    want = {}
    for sh, items in by_shard.items():
        items.sort(key=lambda x: (-x[0], x[1]))
        fills: list = []
        for t, did in items:
            if t > 256:
                want[did] = (sh, -1)
                continue
            for i in range(len(fills)):
                if fills[i] + t <= 256:
                    fills[i] += t
                    want[did] = (sh, i)
                    break
            else:
                fills.append(t)
                want[did] = (sh, len(fills) - 1)
        assert all(f <= 256 for f in fills)
    assert got == want


def test_cdc_chunking_shift_invariance_and_dedup():
    """The CDC selling points, pinned pure-python: (1) boundaries are
    content-local — prefixing text re-chunks only the neighborhood of
    the edit, downstream chunk hashes survive (fixed-size chunking
    would lose ALL of them); (2) a boilerplate paragraph shared by two
    docs yields shared chunk hashes; (3) chunks tile the text exactly
    and respect [min, max] with only the terminal chunk allowed short."""
    import hashlib
    import random

    from listenbrainz_server_spark.operators.chunking import chunk_text

    rng = random.Random(42)
    letters = "abcdefghijklmnopqrstuvwxyz"
    # varied words: candidate cut points need content entropy (a
    # 6-word vocabulary starves the gear mask and every cut becomes a
    # positional max_len force-cut -- fixed-size behavior, no
    # invariance; that starvation mode is itself the reason avg_bits
    # stays small).
    words = [
        "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
        for _ in range(300)
    ]
    text = " ".join(rng.choice(words) for _ in range(400))

    chunks = chunk_text(text)
    data = text.encode()
    # exact tiling
    assert sum(c[1] for c in chunks) == len(data)
    pos = 0
    for st, ln, hx in chunks:
        assert st == pos
        assert hashlib.md5(data[st : st + ln]).hexdigest() == hx
        pos += ln
    # bounds: only the terminal chunk may be < 32; none exceed 192
    assert all(ln <= 192 for _, ln, _ in chunks)
    assert all(ln >= 32 for _, ln, _ in chunks[:-1])

    # shift invariance: most downstream hashes survive a prefix edit
    shifted = chunk_text("INSERTED PREFIX >>> " + text)
    h0 = {h for _, _, h in chunks}
    h1 = {h for _, _, h in shifted}
    survived = len(h0 & h1) / len(h0)
    assert survived >= 0.6, survived

    # boilerplate detection: shared paragraph -> shared chunk hashes
    boiler = " ".join(rng.choice(words) for _ in range(80))
    doc_a = text[:500] + " " + boiler
    doc_b = boiler + " " + text[600:1100]
    ha = {h for _, _, h in chunk_text(doc_a)}
    hb = {h for _, _, h in chunk_text(doc_b)}
    assert ha & hb, "shared boilerplate produced no shared chunks"
