"""Privacy and statistical audits: `x_pii_mask`, `x_kanon_audit`,
`x_dp_counts` (seeded Laplace release), `x_benford_audit`,
`x_chi_square` and `x_subsample_ci`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from listenbrainz_server_spark.catalog import load_table
from listenbrainz_server_spark.queries import register
from listenbrainz_server_spark.session import local_frame


# --------------------------------------------------------------------------
# PII masking / pseudonymization — the governance pass every
# training-data pipeline runs before a corpus leaves the trust
# boundary. Three standard transforms, all deterministic so the
# masked dataset is reproducible and joinable across runs:
#   - pseudonymize the key: salted md5 (stable pseudonym, not
#     reversible from the output alone);
#   - mask the quasi-identifier name: every digit except the last
#     three becomes '*' (format-preserving, last-3 kept for support
#     workflows — the PAN-masking convention);
#   - generalize the numeric attribute: account balance coarsened to
#     $500 buckets (k-anonymity-style generalization).
# Map-only projection: zero shuffles, zero UDFs — at 100 TB this is
# a pure scan-rewrite that parallelizes perfectly.
# --------------------------------------------------------------------------
@register(
    "x_pii_mask",
    """
    SELECT md5('pii-salt-1' || CAST(c_custkey AS VARCHAR)) AS pseudo_id,
           CONCAT(
               regexp_replace(SUBSTR(c_name, 1, LENGTH(c_name) - 3),
                              '[0-9]', '*', 'g'),
               SUBSTR(c_name, LENGTH(c_name) - 2, 3)
           ) AS name_masked,
           CAST(FLOOR(c_acctbal / 500) * 500 AS BIGINT) AS acctbal_bucket,
           c_mktsegment
    FROM customer
    """,
    doc="PII masking: salted pseudonym key, last-3-visible digit mask, "
    "k-anonymity balance generalization (map-only, zero shuffle)",
)
def x_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    name = F.col("c_name")
    head = F.substring(name, 1, F.length(name) - 3)
    tail = F.substring(name, -3, 3)
    return cust.select(
        F.md5(F.concat(F.lit("pii-salt-1"), F.col("c_custkey").cast("string"))).alias(
            "pseudo_id"
        ),
        F.concat(F.regexp_replace(head, "[0-9]", "*"), tail).alias("name_masked"),
        (F.floor(F.col("c_acctbal") / 500) * 500).cast("bigint").alias(
            "acctbal_bucket"
        ),
        "c_mktsegment",
    )


# --------------------------------------------------------------------------
# k-anonymity audit — the release gate that pairs with x_pii_mask:
# after generalization, every quasi-identifier combination must be
# shared by at least k individuals or the row is re-identifiable.
# Audits a CANDIDATE finer generalization ($100 balance buckets —
# the release x_pii_mask would prefer if it passed) and reports every
# violating cell with its population: non-empty result = that
# generalization leaks, fall back to the coarser $500 tier. One keyed
# aggregate; the audit output is |violating cells|, not |rows|.
# --------------------------------------------------------------------------
@register(
    "x_kanon_audit",
    """
    WITH cells AS (
        SELECT c_mktsegment,
               CAST(FLOOR(c_acctbal / 100) * 100 AS BIGINT) AS acctbal_bucket,
               COUNT(*) AS cell_size
        FROM customer
        GROUP BY 1, 2
    )
    SELECT c_mktsegment, acctbal_bucket, CAST(cell_size AS BIGINT) AS cell_size
    FROM cells WHERE cell_size < 5
    """,
    doc="k-anonymity audit (k=5) of a candidate $100-bucket "
    "generalization; violating cells returned, empty = releasable",
)
def x_kanon_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    cells = cust.groupBy(
        "c_mktsegment",
        (F.floor(F.col("c_acctbal") / 100) * 100).cast("bigint").alias(
            "acctbal_bucket"
        ),
    ).agg(F.count(F.lit(1)).alias("cell_size"))
    return cells.where(F.col("cell_size") < 5).select(
        "c_mktsegment", "acctbal_bucket", F.col("cell_size").cast("bigint")
    )


# --------------------------------------------------------------------------
# Seeded-Laplace noisy release counts — the governance tier's
# noisy-aggregate release shape: per-source document counts with
# Laplace(1/eps) noise from a hash-derived uniform seeded by
# md5(release_seed || ':' || source). The noise is a pure function of
# (release_seed, source): re-running the release pipeline can't leak
# via fresh draws (the whole release is ONE mechanism draw), and
# adding a source never perturbs another source's noise.
#
# PRIVACY CAVEAT (this is the honest contract, not fine print): the
# mechanism is differentially private ONLY if release_seed is secret
# and never published — anyone who knows the seed recomputes the
# noise exactly and recovers the true count from n_noisy. The
# registered query runs with the DEFAULT seed below, which is in this
# public repo, so the registered form is a deterministic,
# oracle-checkable NOISE-SHAPE DEMO of the release pipeline, not a DP
# release. A real release passes a secret out-of-band seed.
# u = (first-8-hex of md5 + 0.5) / 2^32 in (0,1); noise via the
# inverse-CDF transform −(1/eps)·sign(u−½)·ln(1−2|u−½|). Everything
# is exact-deterministic except one ln() — both engines call libm on
# identical doubles, and the 4-dp rounding absorbs ulp skew.
# --------------------------------------------------------------------------
DP_DEMO_SEED = "dp"  # public demo seed — see privacy caveat above
# The oracle interpolates DP_DEMO_SEED: the Spark side
# derives its default noise from the same constant, so editing the
# seed cannot silently desync the two engines.
@register(
    "x_dp_counts",
    f"""
    WITH counts AS (
        SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ),
    seeded AS (
        SELECT source, n,
               (('0x' || substr(md5('{DP_DEMO_SEED}:' || source), 1, 8))::BIGINT + 0.5)
                   / 4294967296.0 AS u
        FROM counts
    )
    SELECT source, 1.0 AS epsilon,
           ROUND(n - (1.0 / 1.0) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)),
                 4) AS n_noisy
    FROM seeded
    """,
    doc="seeded-Laplace noisy release counts: Laplace(1/eps) noise "
    "from an md5(release_seed:source)-derived uniform (inverse-CDF "
    "transform, eps=1). DP only under a SECRET seed; the registered "
    "default seed is public, making this the reproducible "
    "noise-shape demo of the release pipeline",
)
def x_dp_counts(
    spark: SparkSession, sf_dir: str, release_seed: str = DP_DEMO_SEED
) -> DataFrame:
    eps = 1.0
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(release_seed + ":"), F.col("source"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        + 0.5
    ) / F.lit(4294967296.0)
    noise = (
        -(1.0 / eps)
        * F.signum(u - 0.5)
        * F.log(1 - 2 * F.abs(u - 0.5))
    )
    return counts.select(
        "source",
        F.lit(eps).alias("epsilon"),
        F.round(F.col("n") + noise, 4).alias("n_noisy"),
    )


# --------------------------------------------------------------------------
# x_benford_audit: first-significant-digit distribution vs
# Benford's law per event type — the classic fabricated-data /
# pipeline-bug screen for positive, scale-spanning measures (Benford
# 1938; Nigrini's audit practice): organically generated magnitudes
# put ~30.1% of leading digits at 1, falling to 4.6% at 9, while
# uniform synthetics (like this fixture's purchase values — the audit
# SHOWS that) and hand-typed numbers don't. One groupBy after a
# column-expression digit extract; the expected shares are 6dp
# LITERALS in both engines (computing log10(1+1/d) at runtime would
# bet the hash on two libms agreeing in the last ULP).
# --------------------------------------------------------------------------
@register(
    "x_benford_audit",
    """
    WITH digits AS (
        SELECT event_type,
               CAST(FLOOR(value / POWER(10, FLOOR(LOG10(value)))) AS INT)
                   AS digit
        FROM events WHERE value > 0
    ),
    expected(digit, exp_share) AS (VALUES
        (1, 0.301030), (2, 0.176091), (3, 0.124939), (4, 0.096910),
        (5, 0.079181), (6, 0.066947), (7, 0.057992), (8, 0.051153),
        (9, 0.045757)
    ),
    counts AS (
        SELECT event_type, digit, COUNT(*) AS n_obs
        FROM digits GROUP BY 1, 2
    ),
    totals AS (
        SELECT event_type, SUM(n_obs) AS total FROM counts GROUP BY 1
    )
    SELECT c.event_type, e.digit,
           CAST(COALESCE(c2.n_obs, 0) AS BIGINT) AS n_obs,
           ROUND(COALESCE(c2.n_obs, 0) * 1.0 / c.total, 6) AS obs_share,
           CAST(e.exp_share AS DOUBLE) AS exp_share,
           ROUND(ABS(COALESCE(c2.n_obs, 0) * 1.0 / c.total
                     - CAST(e.exp_share AS DOUBLE)), 6) AS abs_dev
    FROM totals c
    CROSS JOIN expected e
    LEFT JOIN counts c2
      ON c2.event_type = c.event_type AND c2.digit = e.digit
    ORDER BY c.event_type, e.digit
    """,
    doc="Benford first-digit audit per event type: observed leading-"
    "digit shares vs the 6dp literal Benford expectation (dense 9-"
    "digit grid per type, zero-count digits kept), absolute deviation "
    "6dp -- the fabricated-data / unit-mixup screen for positive "
    "scale-spanning measures",
)
def x_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value") > 0)
    digits = ev.select(
        "event_type",
        F.floor(
            F.col("value") / F.pow(F.lit(10.0), F.floor(F.log10("value")))
        )
        .cast("int")
        .alias("digit"),
    )
    counts = digits.groupBy("event_type", "digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    totals = counts.groupBy("event_type").agg(F.sum("n_obs").alias("total"))
    benford = local_frame(
        spark,
        [
            (1, 0.301030), (2, 0.176091), (3, 0.124939), (4, 0.096910),
            (5, 0.079181), (6, 0.066947), (7, 0.057992), (8, 0.051153),
            (9, 0.045757),
        ],
        "digit int, exp_share double",
    )
    grid = totals.crossJoin(F.broadcast(benford))
    share = F.coalesce(F.col("n_obs"), F.lit(0)) * 1.0 / F.col("total")
    return (
        grid.join(counts, ["event_type", "digit"], "left")
        .select(
            "event_type",
            "digit",
            F.coalesce("n_obs", F.lit(0)).cast("bigint").alias("n_obs"),
            F.round(share, 6).alias("obs_share"),
            "exp_share",
            F.round(F.abs(share - F.col("exp_share")), 6).alias("abs_dev"),
        )
        .orderBy("event_type", "digit")
    )


# --------------------------------------------------------------------------
# x_chi_square: Pearson chi-square contingency audit between a
# categorical feature and a cohort label — the standard "is this
# feature independent of the split?" check for A/B bucketing bugs and
# leaky dataset splits (e.g. a hash-split whose buckets correlate
# with event type means the hash key leaks the feature). Cohort =
# user_id % 4, the same declared-modulus convention as x_hash_split.
# One fact scan -> one (type, cohort) count aggregate (map-side
# combinable, |cells| = |types| x 4); marginals and the statistic are
# cell-frame arithmetic over broadcast-sized frames. Integer counts
# exact; expected/contrib 6dp.
# --------------------------------------------------------------------------
@register(
    "x_chi_square",
    """
    WITH cells AS (
        SELECT event_type, user_id % 4 AS cohort, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, SUM(n) AS row_n FROM cells GROUP BY 1),
    ct AS (SELECT cohort, SUM(n) AS col_n FROM cells GROUP BY 1),
    tot AS (SELECT SUM(n) AS total FROM cells)
    SELECT c.event_type, c.cohort, CAST(c.n AS BIGINT) AS n,
           ROUND(rt.row_n * ct.col_n * 1.0 / tot.total, 6) AS expected,
           ROUND(POW(c.n - rt.row_n * ct.col_n * 1.0 / tot.total, 2)
                 / (rt.row_n * ct.col_n * 1.0 / tot.total), 6) AS contrib
    FROM cells c
    JOIN rt USING (event_type) JOIN ct USING (cohort), tot
    ORDER BY event_type, cohort
    """,
    doc="Pearson chi-square contingency audit (event_type x user-"
    "cohort): per-cell observed/expected/contribution for detecting "
    "cohort-feature dependence in splits; one map-side-combinable "
    "cell aggregate, marginals over the broadcast-sized cell frame",
)
def x_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.col("user_id") % 4).alias("cohort")
    ).agg(F.count(F.lit(1)).alias("n"))
    rt = cells.groupBy("event_type").agg(F.sum("n").alias("row_n"))
    ct = cells.groupBy("cohort").agg(F.sum("n").alias("col_n"))
    tot = cells.agg(F.sum("n").alias("total"))
    exp = F.col("row_n") * F.col("col_n") * 1.0 / F.col("total")
    return (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "cohort")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "cohort",
            F.col("n").cast("bigint").alias("n"),
            F.round(exp, 6).alias("expected"),
            F.round(F.pow(F.col("n") - exp, 2) / exp, 6).alias("contrib"),
        )
        .orderBy("event_type", "cohort")
    )


# --------------------------------------------------------------------------
# Deterministic subsample confidence interval for a mean — the
# resampling-statistics pattern at scale: 32 half-sample replicates,
# each a hash-gated ~50% subsample (bit b of md5(replicate, event_id)
# — identical bytes in both engines, so the replicate assignment is
# reproducible anywhere), mean per replicate, and the spread of the
# replicate means gives the standard error (se ≈ sd/√2 for
# delete-half subsamples). The physical shape is the Poisson-
# bootstrap shape: a map-side explode of each row into its replicate
# memberships (32×|rows|, embarrassingly parallel) and one
# replicate-keyed aggregate — no resampling-with-replacement shuffle,
# no driver-side loop. CI math runs on the ROUNDED aggregate moments
# so both engines derive identical bounds.
# --------------------------------------------------------------------------
@register(
    "x_subsample_ci",
    """
    WITH assign AS (
        SELECT r.b, e.value
        FROM events e
        CROSS JOIN (SELECT unnest(range(0, 32)) AS b) r
        WHERE substr(md5('rep' || CAST(r.b AS VARCHAR) || ':'
                         || CAST(e.event_id AS VARCHAR)), 1, 1) <= '7'
    ),
    rmeans AS (SELECT b, AVG(value) AS m FROM assign GROUP BY b),
    stats AS (
        SELECT ROUND(AVG(m), 4) AS boot_mean,
               ROUND(STDDEV_SAMP(m), 4) AS boot_sd
        FROM rmeans
    ),
    base AS (
        SELECT ROUND(AVG(value), 4) AS mean_value,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events
    )
    SELECT base.mean_value, base.n,
           CAST(32 AS INT) AS n_replicates,
           stats.boot_mean, stats.boot_sd,
           ROUND(base.mean_value - 1.96 * stats.boot_sd / sqrt(2.0), 4) AS ci_low,
           ROUND(base.mean_value + 1.96 * stats.boot_sd / sqrt(2.0), 4) AS ci_high
    FROM base CROSS JOIN stats
    """,
    doc="delete-half subsample CI for mean(events.value): 32 hash-"
    "gated replicates, map-side explode + one keyed aggregate",
)
def x_subsample_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    reps = ev.select(
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"),
        F.col("event_id"),
    ).where(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("rep"),
                    F.col("b").cast("string"),
                    F.lit(":"),
                    F.col("event_id").cast("string"),
                )
            ),
            1,
            1,
        )
        <= "7"
    )
    rmeans = reps.groupBy("b").agg(F.avg("value").alias("m"))
    stats = rmeans.agg(
        F.round(F.avg("m"), 4).alias("boot_mean"),
        F.round(F.stddev_samp("m"), 4).alias("boot_sd"),
    )
    base = ev.agg(
        F.round(F.avg("value"), 4).alias("mean_value"),
        F.count(F.lit(1)).alias("n"),
    )
    half_se = F.col("boot_sd") / F.sqrt(F.lit(2.0))
    return base.crossJoin(F.broadcast(stats)).select(
        "mean_value",
        "n",
        F.lit(32).cast("int").alias("n_replicates"),
        "boot_mean",
        "boot_sd",
        F.round(F.col("mean_value") - 1.96 * half_se, 4).alias("ci_low"),
        F.round(F.col("mean_value") + 1.96 * half_se, 4).alias("ci_high"),
    )
