"""The collaborative-filtering pair source shared by the ML queries,
the similar-users handler and the dispatch table: user x item
playcounts, degree-capped user-user cosine pairs (the DataFrame-native
DIMSUM formulation, similarity/user.py:89-115), the
similarity.similar_users handler built on them, and its DuckDB twin.
Query modules import these from here, so none of them imports another.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from listenbrainz_server_spark.catalog import load_table
from listenbrainz_server_spark.operators.topk import top_k_per_group


def playcounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """user×item interaction counts (create_dataframes.py:166-183
    shape): customer bought part, capped confidence transform."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .agg(F.count(F.lit(1)).alias("playcount"))
    )


# Default per-item degree cap for the cosine self-join. 20 follows the
# reference's own magnitude-capping precedent (the LEAST(listen_count,
# cap) rule, sitewide/entity.py:50-59) applied on the item axis; at
# 100 TB one viral item otherwise contributes |users(item)|²/2 pairs.
ITEM_DEGREE_CAP = 20


def user_cosine_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.15,
    item_degree_cap: int | None = ITEM_DEGREE_CAP,
) -> DataFrame:
    """Cosine pairs (user_a < user_b, similarity_raw ≥ threshold).

    ``item_degree_cap``: per-item cap on participating users — the
    shared-item self-join generates |users(item)|²/2 rows per item, so
    one viral item is a straight scale-killer at 100×. Capping keeps
    the top-C users per item by playcount (deterministic user tie-break)
    before the join — the reference's own per-user LEAST cap precedent
    (sitewide/entity.py:50-59) applied on the item axis; DIMSUM's
    sampling bounds the same term probabilistically.

    The cap is ON by default: every serving path —
    ``similarity.similar_users`` dispatch, ``h_similar_users``, the
    bench headline — runs the bounded plan. Pass ``None`` explicitly
    for the exact all-pairs form (oracle fixture
    ``m_user_cosine_uncapped`` only).
    """
    pc = playcounts(spark, sf_dir)
    return cosine_pairs_from_playcounts(pc, threshold, item_degree_cap)


def cosine_pairs_from_playcounts(
    pc: DataFrame,
    threshold: float = 0.15,
    item_degree_cap: int | None = ITEM_DEGREE_CAP,
) -> DataFrame:
    """Core of ``user_cosine_pairs``, taking a (user_id, item_id,
    playcount) frame directly — unit tests feed skewed fixtures here.
    """
    # The playcount frame feeds three branches (norms, and — through
    # the degree-cap window — both sides of the shared-item self-join);
    # pin it once so the upstream scan→join→agg lineage executes a
    # single time. ~|interactions| rows of 3 narrow columns.
    pc = pc.localCheckpoint(eager=True)
    # Norms over the FULL vector (capping affects candidate pairs, not
    # the definition of a user's vector length).
    norms = pc.groupBy("user_id").agg(
        F.sqrt(F.sum(F.col("playcount") * F.col("playcount") * F.lit(1.0))).alias("nrm")
    )
    joined_pc = pc
    if item_degree_cap is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("item_id").orderBy(
            F.col("playcount").desc(), F.col("user_id")
        )
        # NOT pinned (measured): the cap window's exchange is
        # partitioned by item_id — exactly the self-join key — so both
        # join sides reuse that partitioning and the join adds no
        # exchange of its own. A localCheckpoint here breaks that
        # property and forces two fresh item_id exchanges; interleaved
        # A/B read 1.21x SLOWER with the pin (m_user_cosine_capped
        # 3.13 -> 3.80 s, api_similar_users_top1 3.00 -> 3.64 s,
        # plans/r15/AB_pins_batch1.json). The duplicated window
        # subtree is the cheaper of the two evils.
        joined_pc = (
            pc.withColumn("_idr", F.row_number().over(w))
            .where(F.col("_idr") <= item_degree_cap)
            .drop("_idr")
        )
    a = joined_pc.select(
        F.col("user_id").alias("user_a"), "item_id", F.col("playcount").alias("pc_a")
    )
    b = joined_pc.select(
        F.col("user_id").alias("user_b"), "item_id", F.col("playcount").alias("pc_b")
    )
    dots = (
        a.join(b, "item_id")
        .where(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.sum(F.col("pc_a") * F.col("pc_b") * F.lit(1.0)).alias("dot"))
    )
    na = norms.select(F.col("user_id").alias("user_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("user_id").alias("user_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "user_a")
        .join(nb, "user_b")
        .withColumn("similarity_raw", F.col("dot") / (F.col("na") * F.col("nb")))
        .where(F.col("similarity_raw") >= threshold)
    )


# The oracle twin of the capped ``user_cosine_pairs``: norms over the
# full vector, candidate pairs from the per-item top-20-by-playcount
# subset.
_COSINE_PAIRS_SQL = """
    pc AS (
        SELECT o_custkey AS user_id, l_partkey AS item_id, COUNT(*) AS playcount
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    ),
    capped AS (
        SELECT user_id, item_id, playcount FROM (
            SELECT user_id, item_id, playcount,
                   ROW_NUMBER() OVER (
                       PARTITION BY item_id
                       ORDER BY playcount DESC, user_id
                   ) AS idr
            FROM pc
        ) WHERE idr <= 20
    ),
    norms AS (
        SELECT user_id, sqrt(SUM(playcount * playcount * 1.0)) AS nrm FROM pc GROUP BY 1
    ),
    dots AS (
        SELECT a.user_id AS user_a, b.user_id AS user_b,
               SUM(a.playcount * b.playcount * 1.0) AS dot
        FROM capped a JOIN capped b
          ON a.item_id = b.item_id AND a.user_id < b.user_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT user_a, user_b, dot / (na.nrm * nb.nrm) AS sim
        FROM dots
        JOIN norms na ON na.user_id = user_a
        JOIN norms nb ON nb.user_id = user_b
        WHERE dot / (na.nrm * nb.nrm) >= 0.15
    )
"""


def similar_users_sql(k: int) -> str:
    """The DuckDB twin of ``similar_users_handler(max_num_users=k)``."""
    return f"""
    WITH {_COSINE_PAIRS_SQL},
    sym_pairs AS (
        SELECT user_a AS user_id, user_b AS other_user_id, sim FROM pairs
        UNION ALL
        SELECT user_b AS user_id, user_a AS other_user_id, sim FROM pairs
    )
    SELECT user_id, other_user_id, ROUND(sim, 6) AS similarity
    FROM (
        SELECT user_id, other_user_id, sim,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY sim DESC, other_user_id
               ) AS rn
        FROM sym_pairs
    ) WHERE rn <= {k}
    """


def similar_users_handler(
    spark: SparkSession,
    sf_dir: str,
    max_num_users: int = 25,
    threshold: float = 0.15,
) -> DataFrame:
    """similarity.similar_users with the reference's request params
    (request_manage.py:355-360: max_num_users default 25)."""
    pairs = user_cosine_pairs(spark, sf_dir, threshold=threshold)
    # Symmetric expansion via explode, not UNION ALL of two selects —
    # a union would run the whole cosine pipeline twice (the reference
    # unions because its CoordinateMatrix is already materialized,
    # similarity/user.py:70-81); explode reads each pair once.
    combined = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("user_a").alias("user_id"),
                    F.col("user_b").alias("other_user_id"),
                    F.col("similarity_raw"),
                ),
                F.struct(
                    F.col("user_b").alias("user_id"),
                    F.col("user_a").alias("other_user_id"),
                    F.col("similarity_raw"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    top = top_k_per_group(
        combined,
        partition_by=["user_id"],
        order_by=[F.col("similarity_raw").desc(), F.col("other_user_id")],
        k=max_num_users,
        keep_rank=False,
    )
    return top.select(
        "user_id",
        "other_user_id",
        F.round("similarity_raw", 6).alias("similarity"),
    )
