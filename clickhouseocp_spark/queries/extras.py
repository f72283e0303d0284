"""Remaining SURVEY.md §2 rows: sumMap/map functions, bit functions, IP
functions, histogram, topKWeighted, collation-style sort — each through the
ClickHouse-name compatibility layer where applicable."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from clickhouseocp_spark.catalog import load_table, local_frame
from clickhouseocp_spark.functions import clickhouse_names as ch
from clickhouseocp_spark.operators.groupwise import top_k
from clickhouseocp_spark.queries import register
from clickhouseocp_spark.queries._util import fsum


@register(
    "sum_map_agg",
    oracle="""
WITH per AS (
  SELECT user_id, event_type, COUNT(*) AS n
  FROM events GROUP BY user_id, event_type
)
SELECT user_id,
       string_agg(event_type || ':' || CAST(n AS VARCHAR), ',' ORDER BY event_type) AS type_counts
FROM per GROUP BY user_id
""",
    tags=("agg", "map"),
)
def sum_map_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sumMap (SURVEY §2.4): element-wise aggregation of (key→count) maps per
    user, built as explode→agg→map_from_entries, rendered as a sorted string
    (map cell layouts differ across engines, strings hash stably)."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    maps = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    # render the map deterministically: sorted key:value CSV
    rendered = F.array_join(
        F.transform(
            F.array_sort(F.map_keys("m")),
            lambda k: F.concat(k, F.lit(":"), F.element_at(F.col("m"), k).cast("string")),
        ),
        ",",
    )
    return maps.select("user_id", rendered.alias("type_counts"))


@register(
    "bit_functions",
    oracle="""
SELECT event_id,
       event_id & 255 AS low_byte,
       event_id | 4096 AS with_flag,
       xor(event_id, 1365) AS xored,
       event_id << 3 AS shifted_l,
       event_id >> 2 AS shifted_r,
       CAST(bit_count(event_id) AS INTEGER) AS popcount
FROM events WHERE event_id % 11 = 0
""",
    tags=("scalar", "bit"),
)
def bit_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit family (SURVEY §2.8) through the CH-name layer: bitAnd/bitOr/
    bitXor/bitShiftLeft/bitShiftRight/bitCount."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 11 == 0)
    return ev.select(
        "event_id",
        ch.bitAnd("event_id", F.lit(255)).alias("low_byte"),
        ch.bitOr("event_id", F.lit(4096)).alias("with_flag"),
        ch.bitXor("event_id", F.lit(1365)).alias("xored"),
        ch.bitShiftLeft("event_id", 3).alias("shifted_l"),
        ch.bitShiftRight("event_id", 2).alias("shifted_r"),
        ch.bitCount("event_id").cast("int").alias("popcount"),
    )


@register(
    "ip_functions",
    oracle="""
SELECT user_id, ip_num,
       CAST(ip_num // 16777216 % 256 AS VARCHAR) || '.' ||
       CAST(ip_num // 65536 % 256 AS VARCHAR) || '.' ||
       CAST(ip_num // 256 % 256 AS VARCHAR) || '.' ||
       CAST(ip_num % 256 AS VARCHAR) AS ip_str,
       ip_num // 16777216 % 256 = 10 AS is_private_10
FROM (SELECT user_id, (user_id * 2654435761) % 4294967296 AS ip_num FROM events WHERE event_id % 13 = 0)
""",
    tags=("scalar", "ip"),
)
def ip_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4NumToString / isIPAddressInRange-style checks (SURVEY §2.8 URL/IP
    family) — pure integer arithmetic, reproduced exactly by the oracle."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 13 == 0)
    ipd = ev.select(
        "user_id",
        ((F.col("user_id") * 2654435761) % 4294967296).alias("ip_num"),
    )
    ip_str = ch.IPv4NumToString(F.col("ip_num"))
    return ipd.select(
        "user_id",
        "ip_num",
        ip_str.alias("ip_str"),
        (((F.col("ip_num") / 16777216).cast("long") % 256) == 10).alias("is_private_10"),
    )


@register(
    "histogram_buckets",
    oracle="""
SELECT CAST(floor(o_totalprice / 50000.0) AS INTEGER) AS bucket,
       COUNT(*) AS n,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi
FROM orders GROUP BY CAST(floor(o_totalprice / 50000.0) AS INTEGER)
""",
    tags=("agg", "histogram"),
)
def histogram_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram(n) analog (SURVEY §2.4): fixed-width bucketing + per-bucket
    count/bounds (CH's adaptive histogram is approximate; fixed-width is the
    deterministic, oracle-checkable formulation)."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000.0).cast("int")
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


@register(
    "top_k_weighted",
    oracle="""
SELECT event_type, CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS cnt
FROM events GROUP BY event_type
ORDER BY cnt DESC, event_type ASC LIMIT 3
""",
    tags=("top_k", "agg"),
)
def top_k_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topKWeighted (SURVEY §2.4): heavy hitters by summed weight rather than
    count (operators/groupwise.top_k with weight)."""
    ev = load_table(spark, sf_dir, "events")
    return top_k(
        ev,
        3,
        by="event_type",
        weight=F.col("value").cast("decimal(38,6)"),
    ).withColumn("cnt", F.col("cnt").cast("double"))


@register(
    "collate_sort",
    oracle="""
SELECT c_name, c_mktsegment
FROM customer
ORDER BY lower(c_mktsegment), c_name, c_custkey
LIMIT 100
""",
    tags=("sort",),
)
def collate_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLATE-style case-insensitive ordering (SURVEY §2.6; ICU ships in the
    reference image, Dockerfile:26) via an explicit casefolded sort key — the
    portable formulation (Spark 4 native collations exist but DuckDB's
    collation tables differ)."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.orderBy(F.lower("c_mktsegment"), "c_name", "c_custkey")
        .select("c_name", "c_mktsegment")
        .limit(100)
    )


@register(
    "ch_function_names",
    oracle="""
SELECT o_orderkey,
       CAST(strftime(o_orderdate, '%Y%m') AS INTEGER) AS yyyymm,
       CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_k,
       CASE WHEN o_orderstatus = 'F' THEN 'final'
            WHEN o_orderstatus = 'O' THEN 'open' ELSE 'other' END AS status,
       COALESCE(NULLIF(o_orderpriority, '3-MEDIUM'), 'default') AS prio
FROM orders WHERE o_orderkey % 7 = 0
""",
    tags=("scalar", "compat"),
)
def ch_function_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ClickHouse-name compatibility layer end-to-end (functions/
    clickhouse_names.py): toYYYYMM/intDiv/multiIf/ifNull/nullIf as a
    reference user would write them."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    return o.select(
        "o_orderkey",
        ch.toYYYYMM("o_orderdate").alias("yyyymm"),
        ch.intDiv("o_totalprice", F.lit(1000)).alias("price_k"),
        ch.multiIf(
            (F.col("o_orderstatus") == "F", "final"),
            (F.col("o_orderstatus") == "O", "open"),
            default="other",
        ).alias("status"),
        ch.ifNull(ch.nullIf("o_orderpriority", F.lit("3-MEDIUM")), F.lit("default")).alias("prio"),
    )


@register(
    "hll_state_merge",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_uniq,
       TRUE AS hll_ok
FROM events GROUP BY event_type
""",
    tags=("agg", "sketch", "mergetree"),
)
def hll_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uniqState/uniqMerge (SURVEY §2.4 -State/-Merge, §7.2): daily HLL
    sketches of user_id materialized per (event_type, day), then merged per
    event_type without rescanning facts (operators/sketches.py).  Sketch
    bytes are engine-specific → the driver-checked output pairs the exact
    companion count with the in-query accuracy contract: the merged estimate
    must land within 5% of exact (the agg_approx_distinct pattern)."""
    from clickhouseocp_spark.operators.sketches import hll_merge, hll_partial

    ev = load_table(spark, sf_dir, "events")
    partials = hll_partial(
        ev.withColumn("day", F.date_trunc("day", "ts")),
        keys=("event_type", "day"),
        col="user_id",
        extra_aggs=[F.count(F.lit(1)).alias("n")],
    )
    merged = hll_merge(partials, keys=("event_type",), extra_aggs=[F.sum("n").alias("n")])
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_uniq")
    )
    return merged.join(exact, "event_type").select(
        "event_type",
        "n",
        "exact_uniq",
        (
            F.abs(F.col("uniq_estimate").cast("double") / F.col("exact_uniq") - 1.0)
            <= 0.05
        ).alias("hll_ok"),
    )


@register(
    "minmax_map_agg",
    oracle="""
WITH per AS (
  SELECT user_id, event_type,
         CAST(MIN(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS vmin,
         CAST(MAX(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS vmax
  FROM events GROUP BY user_id, event_type
)
SELECT user_id,
       string_agg(event_type || ':' || vmin, ',' ORDER BY event_type) AS type_mins,
       string_agg(event_type || ':' || vmax, ',' ORDER BY event_type) AS type_maxs
FROM per GROUP BY user_id
""",
    tags=("agg", "map"),
)
def minmax_map_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minMap / maxMap (SURVEY §2.4 sumMap family): element-wise min and max
    of (event_type → value) maps per user — explode→agg→map_from_entries,
    rendered as sorted key:value CSV (decimal cast pins the cross-engine
    string format)."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(
        F.min(F.col("value").cast("decimal(18,2)")).cast("string").alias("vmin"),
        F.max(F.col("value").cast("decimal(18,2)")).cast("string").alias("vmax"),
    )
    def rendered(vcol: str) -> F.Column:
        m = F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", vcol)))
        )
        return F.array_join(
            F.transform(
                F.array_sort(F.map_keys(m)),
                lambda k: F.concat(k, F.lit(":"), F.element_at(m, k)),
            ),
            ",",
        )
    return per.groupBy("user_id").agg(
        rendered("vmin").alias("type_mins"), rendered("vmax").alias("type_maxs")
    )


@register(
    "quantile_timing_state_merge",
    oracle="""
WITH b AS (
  SELECT event_type,
         LEAST(255, GREATEST(0, CAST(floor(value / 2.0) AS INTEGER))) AS idx
  FROM events
),
c AS (
  SELECT event_type, idx, COUNT(*) AS n FROM b GROUP BY event_type, idx
),
w AS (
  SELECT event_type, idx, n,
         SUM(n) OVER (PARTITION BY event_type ORDER BY idx) AS cum,
         SUM(n) OVER (PARTITION BY event_type) AS total
  FROM c
)
SELECT event_type,
       ROUND(MIN(CASE WHEN cum >= CEIL(0.50 * total) THEN (idx + 0.5) * 2.0 END), 6) AS q50,
       ROUND(MIN(CASE WHEN cum >= CEIL(0.90 * total) THEN (idx + 0.5) * 2.0 END), 6) AS q90,
       ROUND(MIN(CASE WHEN cum >= CEIL(0.99 * total) THEN (idx + 0.5) * 2.0 END), 6) AS q99,
       CAST(MAX(total) AS BIGINT) AS n
FROM w GROUP BY event_type
""",
    tags=("agg", "sketch", "mergetree"),
)
def quantile_timing_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantileTimingState / -Merge (SURVEY §2.4 / §7.2): re-mergeable
    fixed-bin quantile states — day-level partials merged to event_type, then
    read at q50/q90/q99 (operators/sketches.quantile_timing_*).  The oracle
    computes the same histogram directly from raw rows, so a value-hash match
    proves the partial→merge split is EXACT, the AggregatingMergeTree rollup
    property."""
    from clickhouseocp_spark.operators.sketches import (
        quantile_timing_estimate,
        quantile_timing_merge,
        quantile_timing_partial,
    )

    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    partials = quantile_timing_partial(ev, keys=("event_type", "day"), col="value")
    merged = quantile_timing_merge(partials, keys=("event_type",))
    total = F.aggregate("qt_state", F.lit(0).cast("long"), lambda a, x: a + x)
    return merged.select(
        "event_type",
        F.round(quantile_timing_estimate(0.50), 6).alias("q50"),
        F.round(quantile_timing_estimate(0.90), 6).alias("q90"),
        F.round(quantile_timing_estimate(0.99), 6).alias("q99"),
        total.alias("n"),
    )


@register(
    "quantile_dd_state_merge",
    oracle="""
SELECT event_type,
       ROUND(quantile_cont(value, 0.50), 6) AS exact_q50,
       ROUND(quantile_cont(value, 0.90), 6) AS exact_q90,
       ROUND(quantile_cont(value, 0.99), 6) AS exact_q99,
       COUNT(*) AS n,
       TRUE AS dd_ok
FROM events GROUP BY event_type
""",
    tags=("agg", "sketch", "mergetree"),
)
def quantile_dd_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantileTDigestState / -Merge analog (SURVEY §2.4): re-mergeable
    log-bucket quantile states with a RELATIVE-error guarantee over an
    unbounded value range (DDSketch design — operators/sketches.quantile_dd_*).
    Day-level partials merge to event_type; the output pairs oracle-checked
    exact interpolated quantiles with an IN-QUERY ``dd_ok`` flag asserting
    each sketch estimate lands within alpha of the ceil(q·n)-th order
    statistic — the exact value the DDSketch bound is stated against (the
    interpolated quantile differs from it by up to a whole inter-sample gap
    on sparse tails, so it can't carry the tight bound).  A value-hash match
    therefore proves the exact companion AND the sketch's guarantee.

    Exact-companion shape (r16): rank-based order statistics over the
    DISTINCT-value cumulative counts — pre-aggregate to (event_type, value,
    cnt) with map-side combine, one running-count window per event_type
    (spillable sort, rows bounded by distinct values, never raw samples),
    then every quantile/order-stat is a conditional MIN at its target rank.
    Replaces the per-group ``sort_array(collect_list(value))`` array and the
    ``percentile()`` value-map — both buffered entire groups on one task
    (guide §5; the r15 8-core/32-core ratio of 9.33 was that memory
    pressure).  Interpolation reproduces Spark's ``Percentile.getPercentile``
    arithmetic term-for-term, so results are bit-identical."""
    from clickhouseocp_spark.operators.sketches import (
        quantile_dd_estimate,
        quantile_dd_merge,
        quantile_dd_partial,
    )

    alpha = 0.01
    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    partials = quantile_dd_partial(ev, keys=("event_type", "day"), col="value", alpha=alpha)
    merged = quantile_dd_merge(partials, keys=("event_type",))
    ests = merged.select(
        "event_type",
        quantile_dd_estimate(0.50, alpha).alias("__e50"),
        quantile_dd_estimate(0.90, alpha).alias("__e90"),
        quantile_dd_estimate(0.99, alpha).alias("__e99"),
    )

    # distinct-value cumulative counts: cum(v) = #samples <= v within the
    # group.  NULL values sort last so non-null ranks are unaffected (the
    # quantile machinery ignores NULLs; ``n`` still counts every row)
    g = ev.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("__cnt"))
    # all three sums share ONE (partition, order) spec — different frames in
    # the same spec run in a single WindowExec pass over one sort
    w = Window.partitionBy("event_type").orderBy(F.col("value").asc_nulls_last())
    cum = g.select(
        "event_type",
        "value",
        F.sum("__cnt")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("__cum"),
        F.sum(F.when(F.col("value").isNotNull(), F.col("__cnt")))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("__n"),
        F.sum("__cnt")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("__n_all"),
    )

    def at_rank(rank: F.Column) -> F.Column:
        # the rank-th smallest sample = min value whose cumulative count
        # reaches the rank (exact order statistic, no per-group buffering)
        return F.min(F.when(F.col("__cum") >= rank, F.col("value")))

    n = F.col("__n")
    agg_cols = [F.max("__n_all").alias("n"), F.max("__n").alias("__nn")]
    for q, tag in ((0.50, "50"), (0.90, "90"), (0.99, "99")):
        pos = F.lit(q) * (n - 1).cast("double")
        agg_cols += [
            at_rank(F.floor(pos) + 1).alias(f"__lo{tag}"),
            at_rank(F.ceil(pos) + 1).alias(f"__hi{tag}"),
            at_rank(F.ceil(F.lit(q) * n)).alias(f"__o{tag}"),
        ]
    exact = cum.groupBy("event_type").agg(*agg_cols)
    for q, tag in ((0.50, "50"), (0.90, "90"), (0.99, "99")):
        # Spark Percentile.getPercentile: position = q*(nn-1) over the
        # NON-NULL count; (higher - position)*lower + (position -
        # lower)*higher, no interpolation when the position is integral or
        # the keys collide
        pos = F.lit(q) * (F.col("__nn") - 1).cast("double")
        flo, fhi = F.floor(pos), F.ceil(pos)
        lo, hi = F.col(f"__lo{tag}"), F.col(f"__hi{tag}")
        exact = exact.withColumn(
            f"exact_q{tag}",
            F.round(
                F.when((flo == fhi) | (lo == hi), lo).otherwise(
                    (fhi.cast("double") - pos) * lo
                    + (pos - flo.cast("double")) * hi
                ),
                6,
            ),
        )

    def ok(est: str, ostat: str) -> F.Column:
        return F.abs(F.col(est) / F.col(ostat) - 1.0) <= alpha + 1e-12

    return exact.join(F.broadcast(ests), "event_type").select(
        "event_type",
        "exact_q50",
        "exact_q90",
        "exact_q99",
        "n",
        (ok("__e50", "__o50") & ok("__e90", "__o90") & ok("__e99", "__o99")).alias(
            "dd_ok"
        ),
    )


@register(
    "projection_rollup_answer",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty_sum,
       CAST(COUNT(l_extendedprice) AS BIGINT) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
         / COUNT(l_extendedprice) AS price_avg,
       MIN(l_shipdate) AS ship_min,
       MAX(l_shipdate) AS ship_max
FROM lineitem GROUP BY l_returnflag
""",
    tags=("agg", "projection", "mergetree"),
)
def projection_rollup_answer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MergeTree projections (SURVEY §4's one custom-optimizer candidate,
    plans/projections.py): a (l_returnflag, l_linestatus) summary of
    re-mergeable states answers the coarser GROUP BY l_returnflag without
    touching the fact table — the oracle aggregates the raw rows, so the
    hash match proves projection answering is exact."""
    from clickhouseocp_spark.plans.projections import (
        ProjectionCatalog,
        build_projection,
    )

    li = load_table(spark, sf_dir, "lineitem")
    measures = {
        "qty_sum": ("sum", "l_quantity"),
        "n": ("count", "l_extendedprice"),
        "price_avg": ("avg", "l_extendedprice"),
        "ship_min": ("min", "l_shipdate"),
        "ship_max": ("max", "l_shipdate"),
    }
    proj, summary = build_projection(
        li, "li_flag_status", keys=("l_returnflag", "l_linestatus"), measures=measures
    )
    cat = ProjectionCatalog(spark)
    cat.register(proj, summary)
    return cat.aggregate(None, ("l_returnflag",), measures)


@register(
    "topk_state_merge",
    oracle="""
WITH c AS (
  SELECT event_type, user_id, COUNT(*) AS cnt
  FROM events GROUP BY event_type, user_id
),
r AS (
  SELECT event_type, user_id, cnt,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cnt DESC, CAST(user_id AS VARCHAR) ASC) AS rn
  FROM c
)
SELECT event_type,
       string_agg(CAST(user_id AS VARCHAR) || ':' || CAST(cnt AS VARCHAR),
                  ',' ORDER BY rn) AS top5
FROM r WHERE rn <= 5 GROUP BY event_type
""",
    tags=("agg", "sketch", "mergetree"),
)
def topk_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topKState / topKMerge (SURVEY §2.4 -State family) read at k=5.  The
    registry pins the EXACT merge (un-truncating m), and an un-truncated
    state pipeline is algebraically a two-level count: day-partial item
    counts summed per event_type ARE the merged state, so the query computes
    exactly that — (event_type, user_id) hash agg (map-side combinable, the
    relational form of the state; no per-group array is ever materialized,
    unlike the m=1M ``collect_list`` states this replaces — guide §5) — then
    a salted two-level top-5 (guide §2.5: rank within (event_type, salt),
    keep 5, re-rank the ≤ 5×64 survivors per event_type) and the state-order
    CSV render.  The truncated space-saving path (m < distinct items) stays
    in operators/sketches.topk_state_* and is pytest-bounded."""
    ev = load_table(spark, sf_dir, "events")
    counted = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    # state sort order: (cnt desc, item-as-string asc) — the tiebreak the
    # -State family and the oracle both declare
    item = F.col("user_id").cast("string")
    salted = counted.withColumn("_salt", F.pmod(F.xxhash64("user_id"), F.lit(64)))
    w1 = Window.partitionBy("event_type", "_salt").orderBy(
        F.desc("_cnt"), item.asc()
    )
    w2 = Window.partitionBy("event_type").orderBy(F.desc("_cnt"), item.asc())
    top = (
        salted.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= 5)
        .withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= 5)
    )
    entry = F.struct(
        F.col("_rn").alias("rn"),
        F.concat(item, F.lit(":"), F.col("_cnt").cast("string")).alias("kv"),
    )
    return top.groupBy("event_type").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(entry)), lambda e: e["kv"]
            ),
            ",",
        ).alias("top5")
    )


@register(
    "bitmap_agg_operations",
    oracle="""
WITH s AS (SELECT DISTINCT o_orderpriority AS p, o_custkey AS c FROM orders),
u AS (SELECT c FROM s WHERE p = '1-URGENT'),
j AS (
  SELECT p,
         COUNT(*) AS card,
         COUNT(*) FILTER (WHERE c IN (SELECT c FROM u)) AS and_card,
         bool_or(c = 7) AS contains_7
  FROM s GROUP BY p
)
SELECT p AS priority,
       CAST(card AS BIGINT) AS card,
       CAST(and_card AS BIGINT) AS and_card,
       CAST(card - and_card AS BIGINT) AS andnot_card,
       CAST(card + (SELECT COUNT(*) FROM u) - and_card AS BIGINT) AS or_card,
       CAST(card + (SELECT COUNT(*) FROM u) - 2 * and_card AS BIGINT) AS xor_card,
       and_card > 0 AS any_urgent,
       contains_7
FROM j
""",
    tags=("agg", "bitmap", "mergetree"),
)
def bitmap_agg_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBitmap / bitmapAnd/Or/Xor/Andnot/Cardinality/HasAny/Contains
    (SURVEY §2.8 bit-ops row; operators/bitmap.py).  Per-priority custkey
    bitmaps — day-level partials merged first, proving the groupBitmapMerge
    path — then full set algebra against the broadcast '1-URGENT' bitmap.
    The oracle recomputes every cardinality relationally (|A∪B| =
    |A|+|B|-|A∩B| etc.), so a value-hash match proves the set semantics."""
    from clickhouseocp_spark.operators.bitmap import (
        bitmap_and,
        bitmap_andnot,
        bitmap_cardinality,
        bitmap_contains,
        bitmap_has_any,
        bitmap_merge,
        bitmap_or,
        bitmap_partial,
        bitmap_xor,
    )

    orders = load_table(spark, sf_dir, "orders")
    partials = bitmap_partial(
        orders.withColumn("month", F.trunc("o_orderdate", "month")),
        keys=("o_orderpriority", "month"),
        col="o_custkey",
    )
    bitmaps = bitmap_merge(partials, keys=("o_orderpriority",))
    urgent = bitmaps.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("bm_state").alias("u_state")
    )
    a, u = F.col("bm_state"), F.col("u_state")
    return bitmaps.crossJoin(F.broadcast(urgent)).select(
        F.col("o_orderpriority").alias("priority"),
        bitmap_cardinality(a).cast("long").alias("card"),
        bitmap_cardinality(bitmap_and(a, u)).cast("long").alias("and_card"),
        bitmap_cardinality(bitmap_andnot(a, u)).cast("long").alias("andnot_card"),
        bitmap_cardinality(bitmap_or(a, u)).cast("long").alias("or_card"),
        bitmap_cardinality(bitmap_xor(a, u)).cast("long").alias("xor_card"),
        bitmap_has_any(a, u).alias("any_urgent"),
        bitmap_contains(a, F.lit(7)).alias("contains_7"),
    )


@register(
    "system_columns",
    oracle="""
SELECT table_name AS tbl, column_name AS col,
       CAST(ordinal_position AS INTEGER) AS position,
       CASE data_type
         WHEN 'BIGINT' THEN 'bigint'
         WHEN 'INTEGER' THEN 'int'
         WHEN 'DOUBLE' THEN 'double'
         WHEN 'FLOAT' THEN 'float'
         WHEN 'VARCHAR' THEN 'string'
         WHEN 'DATE' THEN 'date'
         WHEN 'TIMESTAMP' THEN 'timestamp'
         WHEN 'FLOAT[]' THEN 'array<float>'
         ELSE lower(data_type)
       END AS dtype
FROM information_schema.columns
WHERE table_name IN ('region','nation','customer','supplier','part','orders',
                     'lineitem','events','documents','embeddings')
""",
    tags=("introspection",),
)
def system_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """system.columns analog (SURVEY §2.8 introspection): every catalog
    table's columns with ordinal position and engine type, oracle-checked
    against DuckDB's information_schema over the SAME views — proving both
    engines materialize identical schemas from the shared parquet (incl. the
    nanos→micros timestamp normalization on events.ts).  Driver-side
    metadata only (bounded by schema width), no cluster work."""
    from clickhouseocp_spark.catalog import TABLES

    rows = [
        # timestamp_ntz vs timestamp is Spark's UTC-adjustment flag on the
        # same parquet logical type — one "timestamp" label on both engines
        (t, f.name, i + 1, f.dataType.simpleString().replace("timestamp_ntz", "timestamp"))
        for t in TABLES
        for i, f in enumerate(load_table(spark, sf_dir, t).schema.fields)
    ]
    return local_frame(
        spark, rows, "tbl string, col string, position int, dtype string"
    )


# ---------------------------------------------------------------------------
# §2.4 aggregate vocabulary extras: avgWeighted / uniqUpTo / deltaSum /
# anyHeavy / groupArrayMovingSum
# ---------------------------------------------------------------------------


@register(
    "agg_vocab_extras",
    oracle="""
SELECT l_returnflag,
       ROUND(CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE), 6) AS avg_weighted,
       LEAST(COUNT(DISTINCT l_linenumber), 11) AS uniq_upto_10,
       LEAST(COUNT(DISTINCT l_suppkey), 51) AS uniq_upto_50
FROM lineitem GROUP BY l_returnflag
""",
    tags=("agg",),
)
def agg_vocab_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """avgWeighted(x, w) = Σxw/Σw (decimal-routed for order independence) and
    uniqUpTo(N)(x) = min(exact distinct, N+1) — the CH contract is "exact up
    to N, saturates at N+1" (SURVEY §2.4); linenumber stays under its cap,
    suppkey saturates, so both branches are value-checked."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum((F.col("l_extendedprice") * F.col("l_quantity")).cast("decimal(38,6)"))
            .cast("double")
            / F.sum(F.col("l_quantity").cast("decimal(38,6)")).cast("double"),
            6,
        ).alias("avg_weighted"),
        F.least(F.countDistinct("l_linenumber"), F.lit(11)).cast("bigint").alias("uniq_upto_10"),
        F.least(F.countDistinct("l_suppkey"), F.lit(51)).cast("bigint").alias("uniq_upto_50"),
    )


@register(
    "agg_delta_sum",
    oracle="""
WITH s AS (
  SELECT o_orderpriority, o_totalprice,
         lag(o_totalprice) OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_orderdate, o_orderkey) AS prev
  FROM orders
)
SELECT o_orderpriority,
       CAST(SUM(CAST(GREATEST(o_totalprice - prev, 0) AS DECIMAL(38,6))) AS DOUBLE) AS delta_sum
FROM s WHERE prev IS NOT NULL GROUP BY o_orderpriority
""",
    tags=("agg", "window"),
)
def agg_delta_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deltaSum: sum of positive consecutive differences.  CH evaluates it in
    block arrival order; the port makes the order explicit — (o_orderdate,
    o_orderkey) is a unique sort key — so results are deterministic and
    oracle-checkable (documented deviation from CH's order sensitivity)."""
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderdate", "o_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("prev", F.lag("o_totalprice").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy("o_orderpriority")
        .agg(
            F.sum(
                F.greatest(F.col("o_totalprice") - F.col("prev"), F.lit(0)).cast(
                    "decimal(38,6)"
                )
            )
            .cast("double")
            .alias("delta_sum")
        )
    )


@register(
    "agg_mode_heavy",
    oracle="""
SELECT event_type, heavy_bucket, n FROM (
  SELECT event_type, user_id % 10 AS heavy_bucket, COUNT(*) AS n,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY COUNT(*) DESC, user_id % 10) AS rn
  FROM events GROUP BY event_type, user_id % 10
) WHERE rn = 1
""",
    tags=("agg",),
)
def agg_mode_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """anyHeavy analog: the heaviest value per group.  CH's anyHeavy is an
    approximate single-pass heavy-hitter; the port returns the EXACT mode
    (count-desc, value-asc tiebreak) — a deterministic superset of the
    anyHeavy contract, same two-shuffle plan shape as topK."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "heavy_bucket", F.col("user_id") % 10
    )
    counts = ev.groupBy("event_type", "heavy_bucket").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc(), F.col("heavy_bucket"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", "heavy_bucket", "n")
    )


@register(
    "group_array_moving_sum",
    oracle="""
WITH m AS (
  SELECT o_orderpriority, o_orderdate, o_orderkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
              OVER (PARTITION BY o_orderpriority
                    ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov
  FROM orders WHERE o_custkey % 200 = 0
)
SELECT o_orderpriority,
       string_agg(printf('%.6f', mov), ',' ORDER BY o_orderdate, o_orderkey)
         AS moving_sums
FROM m GROUP BY o_orderpriority
""",
    tags=("agg", "window"),
)
def group_array_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupArrayMovingSum(3): per group, the 3-row moving sums in explicit
    (o_orderdate, o_orderkey) order — window moving sum (decimal routed) then
    an order-preserving collect (sort_array over keyed structs, the same
    composition groupArraySorted uses), emitted as a '%.6f'-joined canonical
    string so driver-side pandas canonicalization never sees a list cell."""
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 200 == 0)
    mov = orders.withColumn(
        "mov", F.sum(F.col("o_totalprice").cast("decimal(38,6)")).over(w).cast("double")
    )
    return mov.groupBy("o_orderpriority").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("o_orderdate", "o_orderkey", "mov"))
                ),
                lambda s: F.format_string("%.6f", s["mov"]),
            ),
        ).alias("moving_sums")
    )


@register(
    "sessionize_events",
    oracle="""
WITH s AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), t AS (
  SELECT user_id,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
), c AS (SELECT user_id, sid, COUNT(*) AS cnt FROM t GROUP BY user_id, sid)
SELECT user_id, CAST(MAX(sid) AS BIGINT) AS n_sessions,
       MAX(cnt) AS max_session_events
FROM c GROUP BY user_id
""",
    tags=("window", "funnel"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (the batch twin of the streaming session window,
    SURVEY §2.9): gap > 30 min starts a new session; session id is the
    running sum of session starts over a unique (ts, event_id) order.  Two
    window passes + one aggregate — all on the same user_id partitioning, so
    Catalyst plans ONE shuffle for the whole chain."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "__sec", F.unix_timestamp(F.col("ts").cast("timestamp"))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    new_s = F.when(
        F.lag("__sec").over(w).isNull()
        | (F.col("__sec") - F.lag("__sec").over(w) > 1800),
        1,
    ).otherwise(0)
    sid = ev.withColumn("__new", new_s).withColumn("sid", F.sum("__new").over(run))
    counts = sid.groupBy("user_id", "sid").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.groupBy("user_id").agg(
        F.max("sid").cast("bigint").alias("n_sessions"),
        F.max("cnt").alias("max_session_events"),
    )


@register(
    "agg_quantile_weighted",
    oracle="""
WITH per AS (
  SELECT l_returnflag, l_discount,
         SUM(CAST(l_quantity AS DECIMAL(38,6))) AS w
  FROM lineitem GROUP BY l_returnflag, l_discount
), c AS (
  SELECT l_returnflag, l_discount, w,
         SUM(w) OVER (PARTITION BY l_returnflag ORDER BY l_discount
                      ROWS UNBOUNDED PRECEDING) AS cumw,
         SUM(w) OVER (PARTITION BY l_returnflag) AS tot
  FROM per
)
SELECT l_returnflag, MIN(l_discount) AS weighted_median_discount
FROM c WHERE 2 * cumw >= tot GROUP BY l_returnflag
""",
    tags=("agg", "quantile"),
)
def agg_quantile_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantileExactWeighted(0.5)(x, w): weights merged per distinct value,
    then the smallest value whose cumulative weight reaches half the total.
    The ``2*cumw >= tot`` form keeps the whole computation in exact decimal
    arithmetic — no fractional threshold to drift across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_returnflag", "l_discount").agg(
        F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("w")
    )
    cum = Window.partitionBy("l_returnflag").orderBy("l_discount").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy("l_returnflag")
    c = per.select(
        "l_returnflag",
        "l_discount",
        F.sum("w").over(cum).alias("cumw"),
        F.sum("w").over(tot).alias("tot"),
    )
    return (
        c.filter(F.lit(2) * F.col("cumw") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(F.min("l_discount").alias("weighted_median_discount"))
    )


@register(
    "interval_length_sum",
    oracle="""
WITH iv AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + CAST(floor(value) AS BIGINT) AS e
  FROM events WHERE event_type IN ('view', 'click')
), m AS (
  SELECT user_id, s, e,
         MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM iv
), fl AS (
  SELECT user_id, s, e,
         CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END AS new_island
  FROM m
), isl AS (
  SELECT user_id, s, e,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM fl
)
SELECT user_id, CAST(SUM(len) AS BIGINT) AS covered_seconds,
       CAST(COUNT(*) AS BIGINT) AS n_islands
FROM (SELECT user_id, island, MAX(e) - MIN(s) AS len
      FROM isl GROUP BY user_id, island)
GROUP BY user_id
""",
    tags=("agg", "window"),
)
def interval_length_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intervalLengthSum (SURVEY §2.4): total length of the UNION of
    per-user time intervals [ts, ts + floor(value) s] — classic
    gaps-and-islands: running max of interval end marks island starts, a
    running sum numbers islands, islands aggregate to max(end)-min(start).
    Pure integer arithmetic; three windows + two aggs all partitioned on
    user_id → Catalyst plans ONE shuffle for the whole chain."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    sec = F.unix_timestamp(F.col("ts").cast("timestamp"))
    iv = ev.select(
        "user_id",
        sec.alias("s"),
        (sec + F.floor("value").cast("bigint")).alias("e"),
    )
    w_prev = Window.partitionBy("user_id").orderBy("s", "e").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_run = Window.partitionBy("user_id").orderBy("s", "e").rowsBetween(
        Window.unboundedPreceding, 0
    )
    flagged = iv.withColumn("prev_max", F.max("e").over(w_prev)).withColumn(
        "new_island",
        F.when(
            F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")), 1
        ).otherwise(0),
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(w_run))
    lens = islands.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("len")
    )
    return lens.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("covered_seconds"),
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
    )


@register(
    "system_parts_inventory",
    oracle="""
SELECT 'customer' AS tbl, COUNT(*) AS n_rows FROM customer UNION ALL
SELECT 'orders', COUNT(*) FROM orders UNION ALL
SELECT 'lineitem', COUNT(*) FROM lineitem UNION ALL
SELECT 'events', COUNT(*) FROM events UNION ALL
SELECT 'documents', COUNT(*) FROM documents
""",
    tags=("system",),
)
def system_parts_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """system.parts integrity: per-table row counts summed from parquet
    FOOTERS (no data scan) must equal the actual table counts — the oracle
    recounts the data, so the parts metadata surface is value-checked."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    parts = eng.system_parts()
    return (
        parts.filter(
            F.col("table").isin("customer", "orders", "lineitem", "events", "documents")
        )
        .groupBy(F.col("table").alias("tbl"))
        .agg(F.sum("rows").cast("bigint").alias("n_rows"))
    )


@register(
    "system_query_log_audit",
    oracle="""
SELECT * FROM (VALUES
  ('SELECT', 'clickhouse', 'QueryFinish', CAST(1 AS BIGINT), true),
  ('SELECT', 'spark', 'QueryFinish', CAST(1 AS BIGINT), true),
  ('SELECT', 'spark', 'ExceptionWhileProcessing', CAST(1 AS BIGINT), true)
) AS t(query_kind, dialect, type, n, all_timed)
""",
    tags=("system",),
)
def system_query_log_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """system.query_log analog (the reference image creates query_log as a
    MergeTree table, Dockerfile:225-230): run a fixed statement mix — a
    CH-dialect SELECT, a Spark SELECT, and a failing SELECT — then read the
    log back THROUGH the CH text path (system.query_log → the engine's
    system_query_log view).  The oracle pins the exact (kind, dialect,
    outcome) rows, proving both the logging and the system.* read surface."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    eng.sql("SELECT count() AS n FROM region", dialect="clickhouse").collect()
    eng.sql("SELECT 1 AS one", dialect="spark").collect()
    try:
        eng.sql("SELECT no_such_column_xyz FROM region", dialect="spark")
    except Exception:
        pass
    return eng.sql(
        "SELECT query_kind, dialect, type, count() AS n, "
        "min(query_duration_ms) >= 0 AS all_timed "
        "FROM system.query_log GROUP BY query_kind, dialect, type",
        dialect="clickhouse",
    )


@register(
    "window_vocab_extras",
    oracle="""
SELECT o_orderkey, o_orderpriority,
       ntile(4) OVER w AS quartile,
       ROUND(percent_rank() OVER w, 6) AS pr,
       ROUND(cume_dist() OVER w, 6) AS cd,
       nth_value(o_orderkey, 2) OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice DESC, o_orderkey
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS second_key,
       first_value(o_orderkey) OVER w AS top_key,
       last_value(o_orderkey) OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND UNBOUNDED FOLLOWING) AS bottom_key
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
""",
    tags=("window",),
)
def window_vocab_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining ANSI window-function vocabulary (ClickHouse ships all of
    these): ntile, percent_rank, cume_dist, nth_value, first/last_value with
    an explicit full frame (the default frame ends at CURRENT ROW — the
    classic last_value trap, pinned here on both engines)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_head = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.nth_value("o_orderkey", 2).over(w_head).alias("second_key"),
        F.first("o_orderkey").over(w).alias("top_key"),
        F.last("o_orderkey").over(w_full).alias("bottom_key"),
    )


@register(
    "setops_all_variants",
    oracle="""
SELECT v, COUNT(*) AS n FROM (
  SELECT l_returnflag AS v FROM lineitem WHERE l_quantity > 45
  INTERSECT ALL
  SELECT l_returnflag FROM lineitem WHERE l_discount > 0.08
) GROUP BY v
UNION ALL
SELECT v, COUNT(*) FROM (
  SELECT l_linestatus AS v FROM lineitem WHERE l_quantity > 48
  EXCEPT ALL
  SELECT l_linestatus FROM lineitem WHERE l_tax > 0.07 AND l_quantity > 48
) GROUP BY v
""",
    tags=("setops",),
)
def setops_all_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL (bag semantics — multiplicity min() and
    difference, not the DISTINCT variants already covered): grouped counts
    over both, so the multiset cardinalities are what the oracle matches."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT v, COUNT(*) AS n FROM (
          SELECT l_returnflag AS v FROM lineitem WHERE l_quantity > 45
          INTERSECT ALL
          SELECT l_returnflag FROM lineitem WHERE l_discount > 0.08
        ) GROUP BY v
        UNION ALL
        SELECT v, COUNT(*) FROM (
          SELECT l_linestatus AS v FROM lineitem WHERE l_quantity > 48
          EXCEPT ALL
          SELECT l_linestatus FROM lineitem WHERE l_tax > 0.07 AND l_quantity > 48
        ) GROUP BY v
        """
    )
