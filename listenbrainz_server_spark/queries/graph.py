"""Graph analytics tier: PageRank + personalized PageRank over the
customer↔supplier trade graph.

The reference side: recommendation/similarity graphs (the reference's
``recommendation`` jobs walk a user↔recording bipartite graph; its
``similarity`` tier materializes entity-entity edges). This module adds
the two canonical iterative passes — whole-graph power-iteration
PageRank and seed-set personalized PageRank (the recommendation-walk
analog: rank suppliers for a customer cohort) — in the Spark-native
iterative-DataFrame shape, and both run over ONE shared pinned graph
build (``_trade_graph``).

Design (measured at sf0.1, median-of-3 warm, 4.2 s → 2.4 s against
the string-keyed, two-scan form it replaced):

* **bigint node ids, not strings.** Nodes are ``custkey*2`` /
  ``suppkey*2+1``; every shuffle/join/agg keys on a bigint, and the
  ``'c123'``-style label is materialized only for the final top-k
  rows. (String keys were ~25% of total wall time.)
* **one scan, not two.** The symmetric edge list comes from a single
  orders⋈lineitem pass + ``explode(array(fwd, rev))`` — the old
  ``union`` of two SELECTs over the join executed the join twice.
* **cache, not localCheckpoint, and partition by dst.** ``cache()``
  preserves the plan's output partitioning where ``localCheckpoint``
  (LogicalRDD) drops it; with the weighted edge frame repartitioned
  by ``dst`` before the pin, every iteration's ``groupBy(dst)`` is
  EXCHANGE-FREE — the executed plan shows partial+final
  HashAggregate directly over InMemoryTableScan. (Also:
  ``hashpartitioning(dst)`` satisfies the ``(src,dst)`` clustering
  the w-aggregate needs, so the build itself has one edge shuffle.)
* **out-degree by partial agg + broadcast, not a second wide
  shuffle.** ``edges.groupBy(src).count`` map-side-combines 2|E|
  rows down to ≈|V| per task before its (tiny) shuffle; attaching it
  to w is a broadcast join.
* **the rank vector is broadcast each iteration.** |V| ≪ |E| (16.5k
  vs 1.17M at sf0.1), so the per-iteration join moves no edge data.

Scale notes (100 TB): the iterated frame is the pinned |E|-row edge
list; each iteration is one broadcast join + one in-partition
aggregate — zero shuffles — while the rank vector fits the broadcast
threshold. When |V| outgrows broadcast (≳10^8 nodes), drop the
``broadcast()`` hint: Catalyst falls back to a shuffle join keyed on
src, and the right layout flips to partition-by-src (pay the agg
exchange, save the join exchange — whichever side is re-shuffled
moves |E| rows either way, still one exchange per iteration). At
large K, localCheckpoint the rank frame every few rounds to cut
lineage; at K=5 the unrolled plan is fine. K=5 semantics (measured,
tests/test_graph.py): the graph is BIPARTITE, so the L1 delta decays
at exactly the damping rate (would need K≈45 for 1e-3) — the query
is a fixed-depth damped walk, and its deliverable, the top-50
ranking, is already exact at K=5 (order-identical to K=45,
pinned K=5 vs K=10). Dangling nodes cannot exist because every edge
is mirrored, so the damping term alone conserves mass up to the
teleport.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from listenbrainz_server_spark.catalog import load_table
from listenbrainz_server_spark.queries import register

_DAMP = 0.85
_ITERS = 5
_TOPK = 50
_SEED_NATION = 0  # g_ppr seed cohort: customers of this nation
# Partitions of the pinned trade graph. Measured on a 4-core host:
# defaultParallelism (4) in its place made g_label_prop 1.16x slower
# (old side faster in 3/3 interleaved tools/ab.py pairs, 4.10 vs 3.55 s).
_GRAPH_PARTITIONS = 32


def _trade_graph(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Pinned symmetric customer↔supplier trade graph.

    Returns ``(contrib, outdeg)`` — both cached:

    * ``contrib``: (src, dst, w, od) weighted edges with the source's
      out-degree attached, hash-partitioned by ``dst`` so downstream
      per-iteration ``groupBy(dst)`` aggregates run without an
      exchange;
    * ``outdeg``: (src, od) — also the node universe (the graph is
      symmetric, so src-set = node-set; no separate distinct pass).

    Callers own ``unpersist()``.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = orders.join(li, li.l_orderkey == orders.o_orderkey).select(
        (F.col("o_custkey").cast("bigint") * 2).alias("c"),
        (F.col("l_suppkey").cast("bigint") * 2 + 1).alias("s"),
    )
    # Both orientations from ONE pass over the join (explode of a
    # 2-element array) — a union of two selects would run it twice.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
                F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od")).cache()
    # hashpartitioning(dst) satisfies the (src,dst) clustering, so the
    # w-aggregate reuses this exchange — and every iteration's
    # groupBy(dst) reuses the cached layout (exchange-free, verified
    # in the executed plan).
    w = (
        edges.repartition(_GRAPH_PARTITIONS, "dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    contrib = w.join(F.broadcast(outdeg), "src").cache()
    contrib.count()  # materialize the pin
    return contrib, outdeg


def _node_label(col: str = "node"):
    """bigint node id → the public 'c<custkey>' / 's<suppkey>' label."""
    return F.when(
        F.col(col) % 2 == 0,
        F.concat(F.lit("c"), (F.col(col) / F.lit(2)).cast("bigint").cast("string")),
    ).otherwise(
        F.concat(
            F.lit("s"), ((F.col(col) - 1) / F.lit(2)).cast("bigint").cast("string")
        )
    )


def _finalize(result: DataFrame, *pins: DataFrame) -> DataFrame:
    """Eagerly materialize the (tiny, top-k) result, then release the
    graph-build cache pins. Without this, every graph query leaked its
    cached edge frames for the rest of the session (cached frames are
    never reclaimed by the ContextCleaner, unlike localCheckpoint
    RDDs), shrinking executor storage for every query benched after
    the graph tier."""
    out = result.localCheckpoint(eager=True)
    for p in pins:
        p.unpersist()
    return out


def _pagerank_sql() -> str:
    """Chained-CTE power iteration: r0 uniform, r{i+1} from r{i}."""
    steps = []
    prev = "r0"
    for i in range(1, _ITERS + 1):
        steps.append(
            f"""r{i} AS (
        SELECT nd.node,
               (1 - {_DAMP}) / nn.n
                   + {_DAMP} * COALESCE(SUM(r.pr * w.w / od.od), 0) AS pr
        FROM nodes nd
        CROSS JOIN nn
        LEFT JOIN w ON w.dst = nd.node
        LEFT JOIN {prev} r ON r.node = w.src
        LEFT JOIN outdeg od ON od.src = w.src
        GROUP BY nd.node, nn.n
    )"""
        )
        prev = f"r{i}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH e0 AS (
        SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
               's' || CAST(l.l_suppkey AS VARCHAR) AS dst
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
        SELECT src, dst FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst FROM e0
    ),
    w AS (SELECT src, dst, COUNT(*) AS w FROM edges GROUP BY 1, 2),
    outdeg AS (SELECT src, SUM(w) AS od FROM w GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
    {chain}
    SELECT node, ROUND(pr, 8) AS pagerank
    FROM {prev}
    ORDER BY ROUND(pr, 8) DESC, node
    LIMIT {_TOPK}
    """


@register(
    "g_pagerank",
    _pagerank_sql(),
    doc=f"PageRank (damping {_DAMP}, {_ITERS} unrolled iterations) over "
    "the symmetric customer-supplier trade graph (orders x lineitem); "
    f"top-{_TOPK} nodes. bigint node ids, dst-partitioned cached edge "
    "frame, broadcast rank vector: exchange-free iterations",
)
def g_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    contrib, outdeg = _trade_graph(spark, sf_dir)
    nodes = outdeg.select(F.col("src").alias("node"))
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    rank = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    # The graph is symmetric, so EVERY node has at least one in-edge —
    # no node can drop out of the join, and each iteration is exactly
    # one broadcast join + one exchange-free dst aggregate (the
    # oracle's LEFT JOIN + COALESCE form is value-identical here).
    for _ in range(_ITERS):
        rank = (
            contrib.join(
                F.broadcast(rank.select(F.col("node").alias("src"), "pr")),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("w") / F.col("od")).alias("mass"))
            .crossJoin(F.broadcast(nn))
            .select(
                F.col("dst").alias("node"),
                ((1 - _DAMP) / F.col("n") + _DAMP * F.col("mass")).alias("pr"),
            )
        )
    # Determinism note: ROUND(pr, 8) is deliberately
    # TIGHTER than the repo's usual 6-dp ratio convention — it must
    # absorb only summation-order ULP drift plus DuckDB's DECIMAL
    # 0.85/1.0 literals vs Python-float damping, and 8 dp leaves the
    # top-50 ordering stable at every tested sf (0.001, 0.01, 0.1,
    # and the sf1 scaling smoke). If a larger scale ever flakes at
    # the cutoff, quantize per-iteration contributions instead (the
    # t_tfidf_cosine_pairs pattern) rather than loosening the round.
    return _finalize(
        rank.select(_node_label().alias("node"), F.round("pr", 8).alias("pagerank"))
        .orderBy(F.col("pagerank").desc(), "node")
        .limit(_TOPK),
        contrib,
        outdeg,
    )


def _ppr_sql() -> str:
    """Chained-CTE personalized PageRank: teleport mass goes to the
    seed set only (uniform over seeds), r0 = the seed distribution."""
    steps = []
    prev = "r0"
    for i in range(1, _ITERS + 1):
        steps.append(
            f"""r{i} AS (
        SELECT nd.node,
               (1 - {_DAMP}) * COALESCE(sd.sw, 0)
                   + {_DAMP} * COALESCE(SUM(r.pr * w.w / od.od), 0) AS pr
        FROM nodes nd
        LEFT JOIN seedw sd ON sd.node = nd.node
        LEFT JOIN w ON w.dst = nd.node
        LEFT JOIN {prev} r ON r.node = w.src
        LEFT JOIN outdeg od ON od.src = w.src
        GROUP BY nd.node, sd.sw
    )"""
        )
        prev = f"r{i}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH e0 AS (
        SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
               's' || CAST(l.l_suppkey AS VARCHAR) AS dst
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
        SELECT src, dst FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst FROM e0
    ),
    w AS (SELECT src, dst, COUNT(*) AS w FROM edges GROUP BY 1, 2),
    outdeg AS (SELECT src, SUM(w) AS od FROM w GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    seeds AS (
        SELECT nd.node FROM nodes nd
        JOIN customer c ON nd.node = 'c' || CAST(c.c_custkey AS VARCHAR)
        WHERE c.c_nationkey = {_SEED_NATION}
    ),
    ns AS (SELECT COUNT(*) AS n FROM seeds),
    seedw AS (SELECT node, 1.0 / ns.n AS sw FROM seeds CROSS JOIN ns),
    r0 AS (SELECT node, sw AS pr FROM seedw),
    {chain}
    SELECT node, ROUND(pr, 8) AS ppr
    FROM {prev}
    WHERE node LIKE 's%'
    ORDER BY ROUND(pr, 8) DESC, node
    LIMIT {_TOPK}
    """


@register(
    "g_ppr",
    _ppr_sql(),
    doc=f"personalized PageRank from the nation-{_SEED_NATION} customer "
    f"cohort ({_ITERS} unrolled iterations, damping {_DAMP}): teleport "
    "mass restricted to the seed set; the recommendation-walk analog — "
    f"top-{_TOPK} SUPPLIERS for the cohort. Shares g_pagerank's pinned "
    "dst-partitioned graph; sparse broadcast rank (seeds ∪ reached)",
)
def g_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    contrib, outdeg = _trade_graph(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    nodes = outdeg.select(F.col("src").alias("node"))
    # Seeds = nation cohort ∩ graph nodes (a customer with no
    # lineitem-bearing order has no node, and must not receive
    # teleport mass the oracle's nodes-anchored CTE can't see).
    seeds = (
        cust.where(F.col("c_nationkey") == _SEED_NATION)
        .select((F.col("c_custkey").cast("bigint") * 2).alias("node"))
        .join(nodes, "node")
    )
    ns = seeds.agg(F.count(F.lit(1)).alias("n"))
    seedw = (
        seeds.crossJoin(F.broadcast(ns))
        .select("node", (F.lit(1.0) / F.col("n")).alias("sw"))
        .cache()
    )
    rank = seedw.select("node", F.col("sw").alias("pr"))
    # The rank vector stays SPARSE (seeds ∪ nodes reached so far) —
    # nodes the walk hasn't touched hold exactly 0 and contribute
    # nothing, so dropping them is value-identical to the oracle's
    # dense LEFT JOIN + COALESCE form. Each iteration: one broadcast
    # join + exchange-free dst aggregate for the mass term, then a
    # broadcast outer-merge with the seed teleport (union + 2-row
    # groupBy — exact: a two-term float add is order-free).
    for _ in range(_ITERS):
        mass = (
            contrib.join(
                F.broadcast(rank.select(F.col("node").alias("src"), "pr")),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("w") / F.col("od")).alias("mass"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(_DAMP) * F.col("mass")).alias("pr"),
            )
        )
        rank = (
            mass.unionByName(
                seedw.select(
                    "node", (F.lit(1 - _DAMP) * F.col("sw")).alias("pr")
                )
            )
            .groupBy("node")
            .agg(F.sum("pr").alias("pr"))
        )
    # Pad zero-mass suppliers: the sparse rank omits nodes the walk
    # never reached, but the oracle's nodes-anchored LEFT JOIN emits
    # them with pr=0 and its LIMIT includes such rows whenever fewer
    # than _TOPK suppliers are reachable from the seed cohort — the
    # dense left join keeps both sides row-identical in that regime.
    supp = nodes.where(F.col("node") % 2 == 1)
    dense = supp.join(rank, "node", "left").select(
        "node", F.coalesce(F.col("pr"), F.lit(0.0)).alias("pr")
    )
    return _finalize(
        dense.select(_node_label().alias("node"), F.round("pr", 8).alias("ppr"))
        .orderBy(F.col("ppr").desc(), "node")
        .limit(_TOPK),
        contrib,
        outdeg,
        seedw,
    )


_LPA_ITERS = 4


def _label_prop_sql() -> str:
    """Chained-CTE synchronous weighted-mode label propagation."""
    steps = []
    prev = "l0"
    for i in range(1, _LPA_ITERS + 1):
        steps.append(
            f"""l{i} AS (
        SELECT node, lab FROM (
            SELECT w.dst AS node, r.lab AS lab,
                   ROW_NUMBER() OVER (
                       PARTITION BY w.dst
                       ORDER BY SUM(w.w) DESC, r.lab
                   ) AS rn
            FROM w JOIN {prev} r ON r.node = w.src
            GROUP BY w.dst, r.lab
        ) WHERE rn = 1
    )"""
        )
        prev = f"l{i}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH e0 AS (
        SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
        SELECT src, dst FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst FROM e0
    ),
    w AS (SELECT src, dst, COUNT(*) AS w FROM edges GROUP BY 1, 2),
    l0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges),
    {chain}
    SELECT CASE WHEN lab % 2 = 0 THEN 'c' || CAST(lab // 2 AS VARCHAR)
                ELSE 's' || CAST((lab - 1) // 2 AS VARCHAR) END AS community,
           CAST(COUNT(*) AS BIGINT) AS size
    FROM {prev}
    GROUP BY lab
    ORDER BY size DESC, community
    LIMIT {_TOPK}
    """


@register(
    "g_label_prop",
    _label_prop_sql(),
    doc=f"synchronous weighted-mode label propagation ({_LPA_ITERS} "
    "unrolled iterations) over the shared pinned trade graph: each "
    "node adopts the neighbor label with the highest incident edge "
    "weight (ties to the smallest label — fully deterministic, "
    f"integer-only so oracle parity is EXACT); top-{_TOPK} communities "
    "by size. (src,dst,w)-aggregate, per-iteration (dst,label) "
    "aggregate, and the dst-keyed argmax window all reuse the one "
    "cached dst partitioning — exchange-free iterations",
)
def g_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:

    contrib, outdeg = _trade_graph(spark, sf_dir)
    # Initial label = own node id; |V| rows, broadcast each round.
    labels = outdeg.select(F.col("src").alias("node"), F.col("src").alias("lab"))
    # Synchronous update: new_label(v) = argmax_label Σ w(u,v) over
    # neighbors u with label(u)=label, ties to min label. On a
    # bipartite graph a synchronous sweep can 2-cycle rather than
    # converge, so K is a FIXED unrolled depth mirrored exactly by the
    # oracle (community quality at K=4 is the deliverable, like
    # g_pagerank's fixed-depth damped walk). All arithmetic is bigint
    # sums of bigint edge weights — no rounding contract needed.
    # The argmax is a second aggregate, NOT a row_number window: the
    # (dst,lab) sum is exchange-free over the hash(dst) cache and
    # PROPAGATES that partitioning, so groupBy(dst) chains exchange-
    # free too — where a window's required distribution-by-dst would
    # re-shuffle (hash(dst,lab) clustering doesn't satisfy it).
    # max(struct(tw, -lab)) = highest weight, ties to SMALLEST label.
    for _ in range(_LPA_ITERS):
        labels = (
            contrib.join(
                F.broadcast(labels.select(F.col("node").alias("src"), "lab")),
                "src",
            )
            .groupBy("dst", "lab")
            .agg(F.sum("w").alias("tw"))
            .groupBy("dst")
            .agg(F.max(F.struct(F.col("tw"), (-F.col("lab")).alias("nl"))).alias("m"))
            .select(F.col("dst").alias("node"), (-F.col("m.nl")).alias("lab"))
        )
    return _finalize(
        labels.groupBy("lab")
        .agg(F.count(F.lit(1)).cast("bigint").alias("size"))
        .select(_node_label("lab").alias("community"), "size")
        .orderBy(F.col("size").desc(), "community")
        .limit(_TOPK),
        contrib,
        outdeg,
    )


# ---------------------------------------------------------------------------
# g_triangle_count — degree-ordered triangle enumeration
# ---------------------------------------------------------------------------

# Co-supply projection: suppliers sharing >= this many orders. The
# bipartite trade graph has no triangles, so the triangle query runs
# on the classic one-mode projection; the threshold keeps the
# projection sparse where the raw co-occurrence graph would approach
# completeness (measured at sf0.1: shared-count histogram peaks at 2,
# >=3 keeps 213k edges / avg degree 428 / 28.7M wedges ~= dense
# matrix cubing; >=5 keeps 47.7k edges / avg degree 95 / ~1M wedges
# — 25x less closure work and a more meaningful "significant
# co-supply" relation).
_COSUPPLY_MIN_SHARED = 5
_TRI_TOPK = 50


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over a canonical undirected edge list.

    ``edges`` must be (a, b) with a < b, one row per undirected edge.
    Returns (node, triangles, degree) — only nodes in >= 1 triangle.

    Degree-ordered wedge enumeration (the standard O(|E|^1.5) shape —
    Suri & Vassilvitskii WWW'11 / "MapReduce triangle counting"):

    * every edge is ORIENTED from its lower-(degree, id) endpoint to
      the higher, so each triangle produces exactly ONE wedge, at its
      minimal vertex, and out-degrees are bounded by O(sqrt|E|) —
      the complete-bipartite hub that makes naive wedge counting
      quadratic cannot occur;
    * wedges come from a sorted adjacency array + pair-expansion HOF
      (same single-exchange trick as the pair projection below), not
      an edge self-join — the groupBy(src) is the only exchange and
      the per-row array is bounded by the orientation;
    * closure is a join of wedge (lo, hi) against the canonical edge
      list — at bench scale Catalyst broadcasts the edge side (AQE);
      at 10^10+ edges it degrades to one shuffle join keyed on the
      canonical pair, which is the algorithm's unavoidable |wedges|
      shuffle.

    Reference parity: the reference's similarity tier materializes
    entity-entity co-occurrence edges (listenbrainz_spark similarity
    jobs); triangle/clustering stats are the canonical audit over
    such a graph.
    """
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("degb"))
    # Orient lower-(deg, id) -> higher. (dega, a) vs (degb, b) never
    # tie because a != b.
    lower_a = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        edges.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_a, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(lower_a, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )
    adj = (
        oriented.repartition(
            edges.sparkSession.sparkContext.defaultParallelism, "src"
        )
        .groupBy("src")
        .agg(F.array_sort(F.collect_list("dst")).alias("ns"))
    )
    pair_hof = F.flatten(
        F.transform(
            F.col("ns"),
            lambda x, i: F.transform(
                F.slice(F.col("ns"), i + 2, F.size(F.col("ns"))),
                lambda y: F.struct(
                    F.least(x, y).alias("lo"), F.greatest(x, y).alias("hi")
                ),
            ),
        )
    )
    wedges = adj.select("src", F.explode(pair_hof).alias("p")).select(
        "src", F.col("p.lo").alias("lo"), F.col("p.hi").alias("hi")
    )
    closed = wedges.join(
        edges.select(F.col("a").alias("lo"), F.col("b").alias("hi")),
        ["lo", "hi"],
    )
    per_node = (
        closed.select(
            F.explode(F.array(F.col("src"), F.col("lo"), F.col("hi"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    return per_node.join(deg, "node").select(
        "node", "triangles", F.col("deg").alias("degree")
    )


def _triangle_sql() -> str:
    # Oracle enumerates by id order (e1.a<e1.b=e2.a<e2.b and the
    # (e1.a, e2.b) closure) — a different orientation than the Spark
    # side's degree order, but both enumerate each triangle exactly
    # once, and every output number is integer arithmetic except the
    # 6dp-rounded coefficient.
    return f"""
    WITH ls AS (
        SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
    ),
    pairs AS (
        SELECT x.s AS s1, y.s AS s2, COUNT(*) AS shared
        FROM ls x JOIN ls y ON y.o = x.o AND x.s < y.s
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT s1 AS a, s2 AS b FROM pairs
        WHERE shared >= {_COSUPPLY_MIN_SHARED}
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM edges e1
        JOIN edges e2 ON e2.a = e1.b
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    cnt AS (
        SELECT node, COUNT(*) AS triangles FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        ) GROUP BY node
    ),
    deg AS (
        SELECT node, COUNT(*) AS degree FROM (
            SELECT a AS node FROM edges
            UNION ALL SELECT b FROM edges
        ) GROUP BY node
    )
    SELECT 's' || CAST(c.node AS VARCHAR) AS supplier,
           c.triangles,
           d.degree,
           ROUND(2.0 * c.triangles / (d.degree * (d.degree - 1)), 6)
               AS clustering
    FROM cnt c JOIN deg d USING (node)
    ORDER BY c.triangles DESC, supplier
    LIMIT {_TRI_TOPK}
    """


@register(
    "g_triangle_count",
    _triangle_sql(),
    doc="per-node triangle counts + local clustering coefficient over "
    f"the supplier co-supply projection (>= {_COSUPPLY_MIN_SHARED} "
    "shared orders); degree-ordered wedge enumeration (each triangle "
    "found once at its minimal vertex, out-degree bounded "
    f"O(sqrt|E|)); top-{_TRI_TOPK} by triangles. Integer-exact except "
    "the 6dp coefficient",
)
def g_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # One-mode projection in ONE exchange: per-order sorted distinct
    # supplier array, pairs via the nested-transform HOF (a self-join
    # on l_orderkey would shuffle the 6M-row lineitem twice).
    per_order = (
        li.select(
            F.col("l_orderkey").alias("o"),
            F.col("l_suppkey").cast("bigint").alias("s"),
        )
        .groupBy("o")
        .agg(F.array_sort(F.collect_set("s")).alias("ss"))
    )
    pair_hof = F.flatten(
        F.transform(
            F.col("ss"),
            lambda x, i: F.transform(
                F.slice(F.col("ss"), i + 2, F.size(F.col("ss"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    edges = (
        per_order.select(F.explode(pair_hof).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= _COSUPPLY_MIN_SHARED)
        .select("a", "b")
        .localCheckpoint(eager=True)  # feeds deg + orientation + closure
    )
    tri = triangle_counts(edges)
    return (
        tri.select(
            F.concat(F.lit("s"), F.col("node").cast("string")).alias("supplier"),
            "triangles",
            "degree",
            F.round(
                2.0 * F.col("triangles") / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("clustering"),
        )
        .orderBy(F.col("triangles").desc(), "supplier")
        .limit(_TRI_TOPK)
    )
