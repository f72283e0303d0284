"""Statistical aggregates, batch 2 (SURVEY §2.4 — ClickHouse ships each of
these as a first-class aggregate function: ``kolmogorovSmirnovTest``,
``meanZTest``, ``sumKahan``, ``sumCount``, ``deltaSumTimestamp``,
``groupArrayInsertAt``, ``uniqTheta``, ``categoricalInformationValue``,
``contingency`` / ``cramersVBiasCorrected``, ``minSampleSizeConversion`` /
``minSampleSizeContinous``, ``stochasticLinearRegression``).

Same determinism discipline as stats_q.py: exact integer counting aggregates
plus per-row float math, per-row terms rounded to 8 decimals and summed
through DECIMAL (associative, partition-order-independent), outputs rounded
to 6.  Same 100 TB discipline: every aggregate below is a map-side-combinable
counting pass over a bounded key space; the only windows are either
partitioned by a grouping key or run over the *distinct value domain*
(bounded), never over raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from clickhouseocp_spark.catalog import load_table, local_frame
from clickhouseocp_spark.queries import register
from clickhouseocp_spark.queries.stats_q import _dsum, _sql_dsum

# ---------------------------------------------------------------------------
# kolmogorovSmirnovTest — two-sample KS statistic
# ---------------------------------------------------------------------------


@register(
    "ks_test_two_sample",
    oracle="""
WITH vc AS (
  SELECT value,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2
  FROM events WHERE event_type IN ('click', 'view') GROUP BY value
),
cdf AS (
  SELECT value,
         SUM(c1) OVER (ORDER BY value) AS a1,
         SUM(c2) OVER (ORDER BY value) AS a2,
         SUM(c1) OVER () AS n1,
         SUM(c2) OVER () AS n2
  FROM vc
)
SELECT ROUND(MAX(ABS(CAST(a1 AS DOUBLE) / n1 - CAST(a2 AS DOUBLE) / n2)), 6)
         AS ks_d,
       CAST(MAX(n1) AS BIGINT) AS n_click,
       CAST(MAX(n2) AS BIGINT) AS n_view
FROM cdf
""",
    tags=("agg", "stats"),
)
def ks_test_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``kolmogorovSmirnovTest(x, sample)``: the two-sample KS statistic
    D = max |F1(v) - F2(v)| between the click and view value populations.

    Scale shape: one counting agg collapses rows to the *distinct value
    domain* (the mann_whitney_u discipline — bounded, never a raw-row sort),
    then a cumulative window over that domain builds both empirical CDFs in
    one pass; D is a plain max.  The D statistic is a ratio of exact integer
    counts, so it is bitwise across engines."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    )
    vc = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("c2"),
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    whole = Window.partitionBy()
    cdf = vc.select(
        F.sum("c1").over(w).alias("a1"),
        F.sum("c2").over(w).alias("a2"),
        F.sum("c1").over(whole).alias("n1"),
        F.sum("c2").over(whole).alias("n2"),
    )
    return cdf.agg(
        F.round(
            F.max(F.abs(F.col("a1").cast("double") / F.col("n1")
                        - F.col("a2").cast("double") / F.col("n2"))), 6
        ).alias("ks_d"),
        F.max("n1").cast("bigint").alias("n_click"),
        F.max("n2").cast("bigint").alias("n_view"),
    )


# ---------------------------------------------------------------------------
# meanZTest — two-sample z with known population variances
# ---------------------------------------------------------------------------

#: CH signature meanZTest(pop_var_x, pop_var_y, confidence)(x, y) takes the
#: population variances as PARAMETERS; these literals mirror that.
_POP_VAR_X, _POP_VAR_Y = 820.0, 835.0


@register(
    "mean_z_test",
    oracle=f"""
WITH g AS (
  SELECT
    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
    CAST(SUM(CASE WHEN event_type = 'click'
             THEN CAST(value AS DECIMAL(38,6)) ELSE 0 END) AS DOUBLE) AS s1,
    CAST(SUM(CASE WHEN event_type = 'view'
             THEN CAST(value AS DECIMAL(38,6)) ELSE 0 END) AS DOUBLE) AS s2
  FROM events WHERE event_type IN ('click', 'view')
)
SELECT
  ROUND((s1/n1 - s2/n2) / sqrt({_POP_VAR_X}/n1 + {_POP_VAR_Y}/n2), 6) AS z_stat,
  ROUND(s1/n1 - s2/n2, 6) AS mean_diff,
  CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_view
FROM g
""",
    tags=("agg", "stats"),
)
def mean_z_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``meanZTest(pop_var_x, pop_var_y, conf)(x, y)``: two-sample z statistic
    with KNOWN population variances (CH passes them as aggregate parameters —
    mirrored here as literals).  One conditional-aggregation pass over exact
    decimal sums; map-side combinable at any scale."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    )
    is1 = F.col("event_type") == "click"
    dec6 = "decimal(38,6)"
    g = ev.agg(
        F.sum(F.when(is1, 1).otherwise(0)).cast("double").alias("n1"),
        F.sum(F.when(~is1, 1).otherwise(0)).cast("double").alias("n2"),
        F.sum(F.when(is1, F.col("value").cast(dec6)).otherwise(F.lit(0)))
        .cast("double").alias("s1"),
        F.sum(F.when(~is1, F.col("value").cast(dec6)).otherwise(F.lit(0)))
        .cast("double").alias("s2"),
    )
    n1, n2, s1, s2 = (F.col(c) for c in ("n1", "n2", "s1", "s2"))
    diff = s1 / n1 - s2 / n2
    z = diff / F.sqrt(F.lit(_POP_VAR_X) / n1 + F.lit(_POP_VAR_Y) / n2)
    return g.select(
        F.round(z, 6).alias("z_stat"),
        F.round(diff, 6).alias("mean_diff"),
        n1.cast("bigint").alias("n_click"),
        n2.cast("bigint").alias("n_view"),
    )


# ---------------------------------------------------------------------------
# sumKahan / sumCount
# ---------------------------------------------------------------------------


@register(
    "sum_kahan_count",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
       CAST(COUNT(l_extendedprice) AS BIGINT) AS cnt_price,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
             / COUNT(l_extendedprice), 6) AS avg_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
    tags=("agg", "stats"),
)
def sum_kahan_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sumKahan(x)`` + ``sumCount(x)``: compensated float summation and the
    fused (sum, count) pair.  Kahan summation exists to suppress float
    accumulation error; the Spark-native equivalent with the same contract —
    order-independent, error-free at any partition count — is an exact
    DECIMAL sum, which is also re-mergeable (AggregatingMergeTree analog).
    sumCount's tuple is emitted as two named columns (tuples don't survive
    the driver's hash canonicalizer)."""
    li = load_table(spark, sf_dir, "lineitem")
    dec6 = "decimal(38,6)"
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_extendedprice").cast(dec6)).cast("double")
            .alias("sum_price"),
            F.count("l_extendedprice").alias("cnt_price"),
        )
        .select(
            "l_returnflag",
            "sum_price",
            "cnt_price",
            F.round(F.col("sum_price") / F.col("cnt_price"), 6).alias("avg_price"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# deltaSumTimestamp — positive deltas under timestamp order
# ---------------------------------------------------------------------------


@register(
    "delta_sum_timestamp",
    oracle="""
WITH d AS (
  SELECT user_id % 10 AS bucket,
         value - LAG(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS delta
  FROM events
)
SELECT bucket,
       CAST(SUM(CASE WHEN delta > 0
                THEN CAST(ROUND(delta, 8) AS DECIMAL(38,10)) ELSE 0 END)
            AS DOUBLE) AS delta_sum,
       CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rises
FROM d GROUP BY bucket ORDER BY bucket
""",
    tags=("agg", "stats"),
)
def delta_sum_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``deltaSumTimestamp(value, ts)``: sum of the positive value deltas
    taken in timestamp order within each user's event stream (CH uses the
    timestamp to order partial states when merging parts; the window
    partitioned by user_id IS that ordering contract).

    Scale shape: the window partitions by user_id (parallel across users, no
    global sort); the rollup to 10 buckets is a bounded hash agg."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        (F.col("user_id") % 10).alias("bucket"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )
    return (
        d.groupBy("bucket")
        .agg(
            F.sum(
                F.when(F.col("delta") > 0,
                       F.round(F.col("delta"), 8).cast("decimal(38,10)"))
                .otherwise(F.lit(0))
            ).cast("double").alias("delta_sum"),
            F.sum(F.when(F.col("delta") > 0, 1).otherwise(0)).cast("bigint")
            .alias("n_rises"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# groupArrayInsertAt — position-addressed array build
# ---------------------------------------------------------------------------


@register(
    "group_array_insert_at",
    oracle="""
SELECT event_type,
       CAST(SUM(CASE WHEN dayofweek(ts) % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         || '|' ||
       CAST(SUM(CASE WHEN dayofweek(ts) % 7 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         || '|' ||
       CAST(SUM(CASE WHEN dayofweek(ts) % 7 = 2 THEN 1 ELSE 0 END) AS BIGINT)
         || '|' ||
       CAST(SUM(CASE WHEN dayofweek(ts) % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT)
         || '|' ||
       CAST(SUM(CASE WHEN dayofweek(ts) % 7 = 4 THEN 1 ELSE 0 END) AS BIGINT)
         || '|' ||
       CAST(SUM(CASE WHEN dayofweek(ts) % 7 = 5 THEN 1 ELSE 0 END) AS BIGINT)
         || '|' ||
       CAST(SUM(CASE WHEN dayofweek(ts) % 7 = 6 THEN 1 ELSE 0 END) AS BIGINT)
         AS dow_counts
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("agg",),
)
def group_array_insert_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``groupArrayInsertAt(default, size)(x, pos)``: build a fixed-size
    array addressed by position — here the 7-slot day-of-week histogram per
    event type (slot = weekday index, value = exact count).  Spark-native
    form: seven conditional counts assembled in slot order, one hash agg, no
    collect_list (whose order is partition-dependent).  Emitted '|'-joined
    (driver's canonicalizer can't hash array cells).

    DuckDB dayofweek is 0=Sunday..6; Spark dayofweek is 1=Sunday..7 — both
    sides normalize to 0..6 with % 7 / -1."""
    ev = load_table(spark, sf_dir, "events")
    slots = [
        F.sum(F.when(F.dayofweek("ts") - 1 == i, 1).otherwise(0)).cast("bigint")
        for i in range(7)
    ]
    return (
        ev.groupBy("event_type")
        .agg(F.concat_ws("|", *slots).alias("dow_counts"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# uniqTheta — KMV (k-minimum-values) theta sketch
# ---------------------------------------------------------------------------


@register(
    "uniq_theta_kmv",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS theta_ok
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("agg", "sketch"),
)
def uniq_theta_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``uniqTheta(x)``: distinct-count estimate via a KMV theta sketch — the
    k smallest xxhash64 values of the key domain; estimate = (k-1)/u_(k)
    where u_(k) is the k-th minimum normalized to (0,1].  The state (k
    smallest hashes) is re-mergeable by union+truncate, the
    AggregatingMergeTree contract.

    Hash values are engine-specific → the driver-checked output is the
    in-query accuracy contract (relative error ≤ 15% vs the exact companion,
    the agg_approx_distinct pattern); pytest asserts merge associativity.

    Scale shape: rows collapse to the distinct (event_type, hash) domain
    first (map-side combinable), then a per-group window keeps k rows."""
    k = 256
    ev = load_table(spark, sf_dir, "events")
    # distinct hash domain per group; xxhash64 >> normalized to (0,1]
    hashed = ev.select(
        "event_type",
        (
            (F.xxhash64(F.col("user_id")).cast("double") / F.lit(2.0**63) + 1.0)
            / 2.0
        ).alias("u"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("u")
    kmin = hashed.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    sketch = kmin.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("kept"), F.max("u").alias("uk")
    )
    est = sketch.select(
        "event_type",
        F.when(F.col("kept") < k, F.col("kept").cast("double"))
        .otherwise((F.lit(k - 1)) / F.col("uk"))
        .alias("theta_est"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("theta_est") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.15
            ).alias("theta_ok"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# categoricalInformationValue
# ---------------------------------------------------------------------------


@register(
    "categorical_iv",
    oracle="""
WITH cells AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS DOUBLE) AS g,
         CAST(SUM(CASE WHEN value <= 50 THEN 1 ELSE 0 END) AS DOUBLE) AS b
  FROM events GROUP BY event_type
),
tot AS (SELECT SUM(g) AS gt, SUM(b) AS bt FROM cells)
SELECT event_type,
       ROUND((g/gt - b/bt) * ln((g/gt) / (b/bt)), 6) AS iv_term
FROM cells, tot
WHERE g > 0 AND b > 0
ORDER BY event_type
""",
    tags=("agg", "stats"),
)
def categorical_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``categoricalInformationValue(cat, tag)``: per-category information
    value terms (g/G - b/B)·ln((g/G)/(b/B)) for the binary outcome
    value > 50, over exact conditional counts — the feature-screening
    aggregate.  Two bounded hash aggs + a broadcast of the 1-row total."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("value") > 50, 1).otherwise(0)).cast("double").alias("g"),
        F.sum(F.when(F.col("value") <= 50, 1).otherwise(0)).cast("double").alias("b"),
    )
    tot = cells.agg(F.sum("g").alias("gt"), F.sum("b").alias("bt"))
    gg = F.col("g") / F.col("gt")
    bb = F.col("b") / F.col("bt")
    return (
        cells.crossJoin(F.broadcast(tot))
        .where((F.col("g") > 0) & (F.col("b") > 0))
        .select(
            "event_type",
            F.round((gg - bb) * F.log(gg / bb), 6).alias("iv_term"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# contingency coefficient + bias-corrected Cramér's V
# ---------------------------------------------------------------------------


@register(
    "contingency_coef",
    oracle="""
WITH cells AS (
  SELECT event_type AS x, user_id % 4 AS y, CAST(COUNT(*) AS DOUBLE) AS n
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT CAST(SUM(n) AS DOUBLE) AS t,
         CAST(COUNT(DISTINCT x) AS DOUBLE) AS r,
         CAST(COUNT(DISTINCT y) AS DOUBLE) AS c
  FROM cells
),
margins AS (
  SELECT cells.x, cells.y, cells.n,
         SUM(n) OVER (PARTITION BY x) AS rt,
         SUM(n) OVER (PARTITION BY y) AS ct
  FROM cells
),
chi AS (
  SELECT CAST(SUM(CAST(ROUND(
           (m.n - m.rt * m.ct / tot.t) * (m.n - m.rt * m.ct / tot.t)
           / (m.rt * m.ct / tot.t), 8) AS DECIMAL(38,10))) AS DOUBLE) AS chi2,
         MAX(tot.t) AS t, MAX(tot.r) AS r, MAX(tot.c) AS c
  FROM margins m, tot
)
SELECT ROUND(sqrt(chi2 / (chi2 + t)), 6) AS contingency_c,
       ROUND(sqrt(
         GREATEST(chi2 / t - (r - 1) * (c - 1) / (t - 1), 0)
         / LEAST(r - (r - 1) * (r - 1) / (t - 1),
                 c - (c - 1) * (c - 1) / (t - 1) - 1 + 1) ), 6)
         AS cramers_v_bc
FROM chi
""",
    tags=("agg", "stats"),
)
def contingency_coef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``contingency(x, y)`` + ``cramersVBiasCorrected(x, y)``: Pearson's
    contingency coefficient sqrt(χ²/(χ²+N)) and the Bergsma bias-corrected
    Cramér's V over the event_type × user-bucket contingency table.  Reuses
    the stats_q contingency shape: exact cell counts, margins as two bounded
    hash aggs broadcast back, χ² terms rounded+decimal-summed."""
    from clickhouseocp_spark.queries.stats_q import _contingency

    joined, totals = _contingency(spark, sf_dir)
    m = joined.crossJoin(F.broadcast(totals))
    e = F.col("rt") * F.col("ct") / F.col("t")
    chi = m.agg(
        _dsum((F.col("n") - e) * (F.col("n") - e) / e, "chi2"),
        F.max("t").alias("t"),
        F.max("r").alias("r"),
        F.max("c").alias("c"),
    )
    chi2, t, r, c = (F.col(x) for x in ("chi2", "t", "r", "c"))
    phi2c = F.greatest(chi2 / t - (r - 1) * (c - 1) / (t - 1), F.lit(0.0))
    rc = r - (r - 1) * (r - 1) / (t - 1)
    cc = c - (c - 1) * (c - 1) / (t - 1)
    return chi.select(
        F.round(F.sqrt(chi2 / (chi2 + t)), 6).alias("contingency_c"),
        F.round(F.sqrt(phi2c / F.least(rc, cc - 1 + 1)), 6).alias("cramers_v_bc"),
    )


# ---------------------------------------------------------------------------
# minSampleSizeConversion / minSampleSizeContinous — A/B planning scalars
# ---------------------------------------------------------------------------

#: two-sided alpha=0.05 and power=0.8 normal quantiles (CH hardcodes the same
#: constants inside minSampleSize*)
_Z_ALPHA = 1.9599639845400545
_Z_POWER = 0.8416212335729143


@register(
    "ab_min_sample_size",
    oracle=f"""
WITH base AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS p,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mu,
         CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
           AS m2,
         COUNT(*) AS n
  FROM events GROUP BY event_type
)
SELECT event_type,
       CAST(CEIL(ROUND(power({_Z_ALPHA} + {_Z_POWER}, 2)
            * (p * (1 - p) + (p + 0.02) * (1 - p - 0.02)) / (0.02 * 0.02), 6))
         AS BIGINT) AS n_conversion,
       CAST(CEIL(ROUND(power({_Z_ALPHA} + {_Z_POWER}, 2)
            * 2 * (m2 - mu * mu) / (0.05 * mu * 0.05 * mu), 6)) AS BIGINT)
         AS n_continuous
FROM base ORDER BY event_type
""",
    tags=("stats",),
)
def ab_min_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``minSampleSizeConversion(p, mde, power, alpha)`` /
    ``minSampleSizeContinous(mu, sigma², mde, power, alpha)``: required
    per-arm sample sizes for an A/B test — conversion uplift of 2 points and
    a 5% continuous-mean lift — from one exact-moment pass per event type
    (baseline p, mean, second moment)."""
    ev = load_table(spark, sf_dir, "events")
    dec6 = "decimal(38,6)"
    base = ev.groupBy("event_type").agg(
        (
            F.sum(F.when(F.col("value") > 50, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("p"),
        (F.sum(F.col("value").cast(dec6)).cast("double") / F.count(F.lit(1)))
        .alias("mu"),
        (
            F.sum((F.col("value") * F.col("value")).cast(dec6)).cast("double")
            / F.count(F.lit(1))
        ).alias("m2"),
    )
    z2 = (_Z_ALPHA + _Z_POWER) ** 2
    p, mu, m2 = F.col("p"), F.col("mu"), F.col("m2")
    n_conv = F.ceil(F.round(
        F.lit(z2) * (p * (1 - p) + (p + 0.02) * (1 - p - 0.02)) / (0.02 * 0.02), 6
    ))
    n_cont = F.ceil(F.round(
        F.lit(z2) * 2 * (m2 - mu * mu) / (0.05 * mu * 0.05 * mu), 6
    ))
    return base.select(
        "event_type",
        n_conv.alias("n_conversion"),
        n_cont.alias("n_continuous"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# stochasticLinearRegression — deterministic full-batch gradient descent
# ---------------------------------------------------------------------------

_GD_ITERS = 4
_GD_LR = 0.1


def _gd_oracle() -> str:
    """Oracle replays the same 4 full-batch GD steps as chained CTEs: each
    step computes the two gradient sums with the previous weights as scalars
    (the lttb_downsample unrolled-replay pattern)."""
    prev_w, prev_b = "0.0", "0.0"
    ctes = [
        """pts AS (
  SELECT CAST(user_id % 10 AS DOUBLE) / 10.0 AS x, value / 100.0 AS y
  FROM events WHERE event_type = 'click'
)"""
    ]
    for i in range(_GD_ITERS):
        ctes.append(f"""s{i} AS (
  SELECT
    CAST(SUM(CAST(ROUND(({prev_w} * x + {prev_b} - y) * x, 8)
         AS DECIMAL(38,10))) AS DOUBLE) AS gw,
    CAST(SUM(CAST(ROUND({prev_w} * x + {prev_b} - y, 8)
         AS DECIMAL(38,10))) AS DOUBLE) AS gb,
    COUNT(*) AS n
  FROM pts
),
w{i} AS (
  SELECT ROUND({prev_w} - {_GD_LR} * 2 * gw / n, 8) AS w,
         ROUND({prev_b} - {_GD_LR} * 2 * gb / n, 8) AS b
  FROM s{i}
)""")
        prev_w, prev_b = f"(SELECT w FROM w{i})", f"(SELECT b FROM w{i})"
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT ROUND(w, 6) AS w, ROUND(b, 6) AS b, {_GD_ITERS} AS iters "
        + f"FROM w{_GD_ITERS - 1}"
    )


@register(
    "stochastic_linear_regression",
    oracle=_gd_oracle(),
    tags=("agg", "stats", "ml"),
)
def stochastic_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``stochasticLinearRegression(lr, l2, batch, method)``: SGD linear fit.
    The Spark-native deterministic equivalent is FULL-batch gradient descent
    (batch = all rows makes SGD order-independent, which CH's per-block SGD
    is not): each iteration is ONE map-side-combinable aggregation computing
    the exact-decimal gradient sums, then a driver-side scalar weight update
    (a bounded collect of 2 doubles per iteration — the distributed-GD
    contract at any scale).  Weights are rounded to 8 decimals per step so
    the oracle's unrolled-CTE replay is bitwise."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "click")
    pts = ev.select(
        ((F.col("user_id") % 10).cast("double") / 10.0).alias("x"),
        (F.col("value") / 100.0).alias("y"),
    )
    pts = pts.cache()
    w, b = 0.0, 0.0
    for _ in range(_GD_ITERS):
        resid = F.lit(w) * F.col("x") + F.lit(b) - F.col("y")
        g = pts.agg(
            _dsum(resid * F.col("x"), "gw"),
            _dsum(resid, "gb"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        w = round(w - _GD_LR * 2 * g["gw"] / g["n"], 8)
        b = round(b - _GD_LR * 2 * g["gb"] / g["n"], 8)
    return local_frame(
        spark, [(round(w, 6), round(b, 6), _GD_ITERS)], "w double, b double, iters int"
    )


# ---------------------------------------------------------------------------
# exponentialTimeDecayedSum / -Count / -Avg
# ---------------------------------------------------------------------------

_DECAY_TAU = 30 * 86400  # 30-day time constant


@register(
    "exp_time_decayed_sum",
    oracle=f"""
WITH t AS (
  SELECT user_id % 10 AS bucket, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
         MAX(CAST(floor(epoch(ts)) AS BIGINT))
           OVER (PARTITION BY user_id % 10) AS tmax
  FROM events
)
SELECT bucket,
       CAST(SUM(CAST(ROUND(value * exp((tsec - tmax) / {_DECAY_TAU}.0), 8)
            AS DECIMAL(38,10))) AS DOUBLE) AS decayed_sum,
       CAST(SUM(CAST(ROUND(exp((tsec - tmax) / {_DECAY_TAU}.0), 8)
            AS DECIMAL(38,10))) AS DOUBLE) AS decayed_count,
       ROUND(CAST(SUM(CAST(ROUND(value * exp((tsec - tmax) / {_DECAY_TAU}.0), 8)
             AS DECIMAL(38,10))) AS DOUBLE)
             / CAST(SUM(CAST(ROUND(exp((tsec - tmax) / {_DECAY_TAU}.0), 8)
               AS DECIMAL(38,10))) AS DOUBLE), 6) AS decayed_avg
FROM t GROUP BY bucket ORDER BY bucket
""",
    tags=("agg", "stats", "window"),
)
def exp_time_decayed_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``exponentialTimeDecayedSum/-Count/-Avg(tau)(v, t)``: exponentially
    time-decayed aggregates evaluated at each group's most recent event —
    the freshness-weighted rollup CH ships as window functions.

    Numerics: decay is anchored at the group's MAX timestamp so every
    exp((t - t_max)/tau) factor is ≤ 1 (terms stay at value magnitude,
    round(8) is far above double ULP → cross-engine bitwise); the per-row
    terms sum through DECIMAL, so the whole thing is one partitioned window
    max + one map-side-combinable hash agg — no ordered scan at all."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy(F.col("user_id") % 10)
    tsec = F.unix_timestamp("ts")
    t = ev.select(
        (F.col("user_id") % 10).alias("bucket"),
        "value",
        tsec.alias("tsec"),
        F.max(tsec).over(w).alias("tmax"),
    )
    decay = F.exp((F.col("tsec") - F.col("tmax")) / F.lit(float(_DECAY_TAU)))
    agg = t.groupBy("bucket").agg(
        _dsum(F.col("value") * decay, "decayed_sum"),
        _dsum(decay, "decayed_count"),
    )
    return agg.select(
        "bucket",
        "decayed_sum",
        "decayed_count",
        F.round(F.col("decayed_sum") / F.col("decayed_count"), 6)
        .alias("decayed_avg"),
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# proportionsZTest — two-proportion z with p-value and CI
# ---------------------------------------------------------------------------

#: normal quantile for the 95% CI (CH passes confidence as a parameter)
_Z95 = 1.9599639845400545

#: Abramowitz & Stegun 7.1.26 erf approximation — written as the IDENTICAL
#: formula on both engines so the p-value column value-matches (|err| < 1.5e-7,
#: far inside the round-6 grid)
_ERF_SQL = (
    "(1.0 - (0.254829592 * (1.0/(1.0 + 0.3275911 * ({x})))"
    " - 0.284496736 * power(1.0/(1.0 + 0.3275911 * ({x})), 2)"
    " + 1.421413741 * power(1.0/(1.0 + 0.3275911 * ({x})), 3)"
    " - 1.453152027 * power(1.0/(1.0 + 0.3275911 * ({x})), 4)"
    " + 1.061405429 * power(1.0/(1.0 + 0.3275911 * ({x})), 5))"
    " * exp(-(({x}) * ({x}))))"
)


def _phi_tail_sql(z_abs: str) -> str:
    """2·(1 − Φ(|z|)) with Φ via the A&S erf: p = 1 − erf(|z|/√2)."""
    return f"(1.0 - {_ERF_SQL.format(x=f'(({z_abs}) / sqrt(2.0))')})"


@register(
    "proportions_z_test",
    oracle=f"""
WITH g AS (
  SELECT
    CAST(SUM(CASE WHEN event_type = 'click' AND value > 50 THEN 1 ELSE 0 END) AS DOUBLE) AS x1,
    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
    CAST(SUM(CASE WHEN event_type = 'view' AND value > 50 THEN 1 ELSE 0 END) AS DOUBLE) AS x2,
    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE) AS n2
  FROM events
),
s AS (
  SELECT x1/n1 AS p1, x2/n2 AS p2, (x1+x2)/(n1+n2) AS pp, n1, n2 FROM g
),
z AS (
  SELECT p1, p2, n1, n2,
         (p1 - p2) / sqrt(pp * (1-pp) * (1/n1 + 1/n2)) AS z_stat,
         sqrt(p1*(1-p1)/n1 + p2*(1-p2)/n2) AS se_unpooled
  FROM s
)
SELECT ROUND(z_stat, 6) AS z_stat,
       ROUND({_phi_tail_sql('abs(z_stat)')}, 6) AS p_value,
       ROUND((p1 - p2) - {_Z95} * se_unpooled, 6) AS ci_low,
       ROUND((p1 - p2) + {_Z95} * se_unpooled, 6) AS ci_high,
       CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_view
FROM z
""",
    tags=("agg", "stats"),
)
def proportions_z_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``proportionsZTest(successes_x, successes_y, trials_x, trials_y,
    conf, 'pooled')``: two-proportion pooled z statistic, two-sided p-value,
    and the unpooled 95% CI of the difference — CH's full return tuple as
    named columns.  The p-value's normal CDF uses the Abramowitz-Stegun
    7.1.26 erf approximation written as the IDENTICAL formula on both
    engines, so even the transcendental column value-matches.  One
    conditional counting pass; everything else is scalar math on the 1-row
    result."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.agg(
        F.sum(F.when((F.col("event_type") == "click") & (F.col("value") > 50), 1)
              .otherwise(0)).cast("double").alias("x1"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double").alias("n1"),
        F.sum(F.when((F.col("event_type") == "view") & (F.col("value") > 50), 1)
              .otherwise(0)).cast("double").alias("x2"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("double").alias("n2"),
    )
    s = g.select(
        (F.col("x1") / F.col("n1")).alias("p1"),
        (F.col("x2") / F.col("n2")).alias("p2"),
        ((F.col("x1") + F.col("x2")) / (F.col("n1") + F.col("n2"))).alias("pp"),
        "n1",
        "n2",
    )
    z = s.select(
        "p1", "p2", "n1", "n2",
        ((F.col("p1") - F.col("p2"))
         / F.sqrt(F.col("pp") * (1 - F.col("pp"))
                  * (1 / F.col("n1") + 1 / F.col("n2")))).alias("z_stat"),
        F.sqrt(F.col("p1") * (1 - F.col("p1")) / F.col("n1")
               + F.col("p2") * (1 - F.col("p2")) / F.col("n2"))
        .alias("se_unpooled"),
    )
    p_val = F.expr(_phi_tail_sql("abs(z_stat)"))
    diff = F.col("p1") - F.col("p2")
    return z.select(
        F.round("z_stat", 6).alias("z_stat"),
        F.round(p_val, 6).alias("p_value"),
        F.round(diff - _Z95 * F.col("se_unpooled"), 6).alias("ci_low"),
        F.round(diff + _Z95 * F.col("se_unpooled"), 6).alias("ci_high"),
        F.col("n1").cast("bigint").alias("n_click"),
        F.col("n2").cast("bigint").alias("n_view"),
    )
