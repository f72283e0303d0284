"""ClickHouse scalar/aggregate vocabulary — round-6 batch (SURVEY §2.8
continuation; round-5 verdict "next round" #6).

New names this batch: ``topLevelDomain`` / ``cutToFirstSignificantSubdomain``
(completing the URL registrable-domain family), ``arrayRotateLeft/Right`` +
``arrayShiftLeft/Right`` (CH 23.8 array motion ops, pure slice/concat),
``parseDateTimeBestEffort`` (tolerant multi-layout parsing, *OrNull
contract), ``groupArrayMovingAvg`` (window moving average with CH's
divide-by-window-size rule), and — through the TEXT path (chsql_q.py
round-6 batch) — the completed ``formatDateTime`` specifier set plus
``uniqCombined64``.

Oracle policy: everything is replayed structurally in DuckDB (list slicing
for rotations, strftime for format codes, direct expected-timestamp values
for best-effort parsing — the parse is an identity round-trip by
construction, so the oracle pins the input date itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from clickhouseocp_spark.catalog import load_table, local_frame
from clickhouseocp_spark.functions import clickhouse_names as ch
from clickhouseocp_spark.queries import register


@register(
    "url_vocab_r6",
    oracle="""
WITH u AS (
  SELECT s_suppkey,
         CASE WHEN s_suppkey % 5 = 0 THEN 'http://localhost/x'
              WHEN s_suppkey % 5 = 1 THEN 'no scheme at all'
              ELSE 'https://u@www.sup' || s_suppkey ||
                   CASE WHEN s_suppkey % 2 = 0 THEN '.co.uk' ELSE '.org' END
                   || ':8443/item' || s_suppkey
         END AS url
  FROM supplier
),
n AS (
  SELECT s_suppkey, url,
         regexp_replace(
           regexp_replace(
             regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
             '^[^@]*@', ''),
           ':[0-9]*$', '') AS host
  FROM u
),
p AS (SELECT *, string_split(host, '.') AS parts FROM n),
q AS (
  SELECT *,
         CASE WHEN len(parts) >= 2 THEN parts[-2] || '.' || parts[-1]
              ELSE '' END AS last2
  FROM p
)
SELECT s_suppkey,
       CASE WHEN len(parts) >= 2 THEN parts[-1] ELSE '' END AS tld,
       CASE WHEN last2 IN ('co.uk','org.uk','gov.uk','ac.uk','com.cn',
                           'com.au','co.jp','com.br','co.in')
            THEN CASE WHEN len(parts) >= 3
                      THEN parts[-3] || '.' || last2 ELSE '' END
            ELSE last2 END AS cut_fsd,
       CASE WHEN last2 IN ('co.uk','org.uk','gov.uk','ac.uk','com.cn',
                           'com.au','co.jp','com.br','co.in')
            THEN COALESCE(parts[-3], '')
            WHEN len(parts) >= 2 THEN parts[-2]
            ELSE '' END AS fsd
FROM q
""",
    tags=("scalar", "url", "vocab"),
)
def url_vocab_r6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL family batch C (round 6): ``topLevelDomain`` and
    ``cutToFirstSignificantSubdomain`` complete the registrable-domain
    family, with the round-6 ANSI hardening exercised in-query — one row in
    five is a single-label host (localhost) and one is scheme-less, both of
    which must yield '' (plain element_at would raise INVALID_ARRAY_INDEX
    under the session ANSI pin).  Userinfo and :port stripping shared with
    firstSignificantSubdomain.  Pure regexp/array expressions — replayed
    structurally by the oracle."""
    s = load_table(spark, sf_dir, "supplier")
    url = (
        F.when(F.col("s_suppkey") % 5 == 0, F.lit("http://localhost/x"))
        .when(F.col("s_suppkey") % 5 == 1, F.lit("no scheme at all"))
        .otherwise(
            F.concat(
                F.lit("https://u@www.sup"),
                F.col("s_suppkey").cast("string"),
                F.when(F.col("s_suppkey") % 2 == 0, ".co.uk").otherwise(".org"),
                F.lit(":8443/item"),
                F.col("s_suppkey").cast("string"),
            )
        )
    )
    d = s.select("s_suppkey", url.alias("url"))
    return d.select(
        "s_suppkey",
        ch.topLevelDomain(F.col("url")).alias("tld"),
        ch.cutToFirstSignificantSubdomain(F.col("url")).alias("cut_fsd"),
        ch.firstSignificantSubdomain(F.col("url")).alias("fsd"),
    )


@register(
    "array_rotate_shift",
    oracle="""
WITH g AS (
  SELECT l_orderkey, list_sort(list(l_linenumber)) AS l
  FROM lineitem WHERE l_orderkey < 300 GROUP BY l_orderkey
),
k AS (SELECT *, 2 % len(l) AS k2, least(2, len(l)) AS s2 FROM g)
SELECT l_orderkey,
       array_to_string(l, ',') AS arr,
       array_to_string(list_concat(l[k2 + 1 :], l[1 : k2]), ',') AS rot_l2,
       array_to_string(
         list_concat(l[((len(l) - k2) % len(l)) + 1 :],
                     l[1 : (len(l) - k2) % len(l)]), ',') AS rot_r2,
       array_to_string(
         list_concat(l[s2 + 1 :],
                     list_transform(range(s2), x -> 0)), ',') AS shift_l2,
       array_to_string(
         list_concat([99], l[1 : len(l) - 1]), ',') AS shift_r1
FROM k
""",
    tags=("scalar", "array", "vocab"),
)
def array_rotate_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``arrayRotateLeft/Right`` + ``arrayShiftLeft/Right`` (CH 23.8):
    slice/concat compositions, all JVM-side — pmod normalizes the rotation
    for any array length (single-lineitem orders exercise the len < n
    edge, where rotation is the identity and shiftLeft pads fully).  The
    oracle replays with DuckDB list slicing and the same modular
    arithmetic.  Rendered as comma-joined strings (list cells never reach
    the driver hash)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 300)
    g = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_linenumber")).alias("l")
    )

    def s(col):
        return F.array_join(F.transform(col, lambda x: x.cast("string")), ",")

    return g.select(
        "l_orderkey",
        s(F.col("l")).alias("arr"),
        s(ch.arrayRotateLeft(F.col("l"), 2)).alias("rot_l2"),
        s(ch.arrayRotateRight(F.col("l"), 2)).alias("rot_r2"),
        s(ch.arrayShiftLeft(F.col("l"), 2, F.lit(0))).alias("shift_l2"),
        s(ch.arrayShiftRight(F.col("l"), 1, F.lit(99))).alias("shift_r1"),
    )


@register(
    "datetime_best_effort",
    oracle="""
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS from_slash,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS from_dotted,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS from_compact,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS from_epoch,
       'NULL' AS from_garbage
FROM orders WHERE o_orderkey < 300
""",
    tags=("scalar", "datetime", "vocab"),
)
def datetime_best_effort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``parseDateTimeBestEffort``: four real-world layouts (slash,
    European dotted, compact 14-digit, unix epoch seconds) each rendered
    from o_orderdate and parsed back — the round trip is the identity, so
    the oracle pins the source timestamp directly; garbage parses to NULL
    (the *OrNull contract).  All coalesced try_to_timestamp chains —
    JVM-side, no UDF."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 300)

    def back(rendered):
        return F.date_format(
            ch.parseDateTimeBestEffort(rendered), "yyyy-MM-dd HH:mm:ss"
        )

    ts = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        back(F.date_format(ts, "yyyy/MM/dd HH:mm:ss")).alias("from_slash"),
        back(F.date_format(ts, "dd.MM.yyyy HH:mm:ss")).alias("from_dotted"),
        back(F.date_format(ts, "yyyyMMddHHmmss")).alias("from_compact"),
        back(F.unix_timestamp(ts).cast("string")).alias("from_epoch"),
        F.coalesce(
            back(F.lit("certainly not a timestamp")), F.lit("NULL")
        ).alias("from_garbage"),
    )


@register(
    "group_array_moving_avg",
    oracle="""
WITH m AS (
  SELECT o_orderpriority, o_orderdate, o_orderkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
              OVER (PARTITION BY o_orderpriority
                    ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
              / 3 AS DOUBLE) AS mov
  FROM orders WHERE o_custkey % 200 = 0
)
SELECT o_orderpriority,
       string_agg(printf('%.6f', mov), ',' ORDER BY o_orderdate, o_orderkey)
         AS moving_avgs
FROM m GROUP BY o_orderpriority
""",
    tags=("agg", "window", "vocab"),
)
def group_array_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupArrayMovingAvg(3): CH divides the moving SUM by the window size
    w even for the first w-1 rows (documented CH behavior — not a true
    partial-window mean), so avg_i = movingSum_i / 3 exactly; decimal-routed
    sum keeps the division deterministic.  Same order-preserving collect
    composition as group_array_moving_sum."""
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 200 == 0)
    mov = orders.withColumn(
        "mov",
        (F.sum(F.col("o_totalprice").cast("decimal(38,6)")).over(w) / 3).cast(
            "double"
        ),
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
        ).alias("moving_avgs")
    )


@register(
    "scalar_vocab_r6b",
    oracle="""
SELECT o_orderkey,
       (o_orderkey % 5) * 86400.0 + (o_custkey % 24) * 3600.0 + 0.25 AS td_secs,
       CAST(o_orderdate AS DATE) AS d8,
       CAST(o_orderdate AS DATE) + INTERVAL 12 HOUR
         + CAST(o_orderkey % 60 AS INTEGER) * INTERVAL 1 SECOND AS dt14,
       (o_orderkey >> 3) & 1 AS bt3,
       ((o_orderkey >> 0) & 1 = 1) AND ((o_orderkey >> 2) & 1 = 1) AS bt_all,
       ((o_orderkey >> 5) & 1 = 1) OR ((o_orderkey >> 7) & 1 = 1) AS bt_any,
       'p,t' AS tn
FROM orders
WHERE o_orderkey % 100 = 0
""",
    tags=("scalar", "vocab"),
)
def scalar_vocab_r6b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary batch 7 (round 6): parseTimeDelta (CH unit constants,
    regexp_extract_all + aggregate — all JVM), YYYYMMDDToDate /
    YYYYMMDDhhmmssToDateTime (numeric date encodings), bitTest/All/Any
    (shift-and-mask), tupleNames (to_json → json_object_keys; emitted
    comma-joined — list cells never reach the driver hash).  The
    timedelta input strings are built per row so the oracle can compute the
    expected seconds arithmetically — an independent formulation, not a
    replay."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    td_str = F.concat(
        (F.col("o_orderkey") % 5).cast("string"), F.lit(" days "),
        (F.col("o_custkey") % 24).cast("string"), F.lit("h 250ms"),
    )
    ymd = (
        F.year("o_orderdate") * 10000 + F.month("o_orderdate") * 100
        + F.dayofmonth("o_orderdate")
    )
    ymdhms = ymd.cast("bigint") * 1000000 + 120000 + (F.col("o_orderkey") % 60)
    return o.select(
        "o_orderkey",
        ch.parseTimeDelta(td_str).alias("td_secs"),
        ch.YYYYMMDDToDate(ymd).alias("d8"),
        ch.YYYYMMDDhhmmssToDateTime(ymdhms).alias("dt14"),
        ch.bitTest("o_orderkey", 3).alias("bt3"),
        ch.bitTestAll("o_orderkey", 0, 2).alias("bt_all"),
        ch.bitTestAny("o_orderkey", 5, 7).alias("bt_any"),
        F.array_join(
            ch.tupleNames(
                F.struct(F.col("o_orderpriority").alias("p"),
                         F.col("o_totalprice").alias("t"))
            ),
            ",",
        ).alias("tn"),
    )


@register(
    "geo_vocab_r6",
    oracle="""
WITH pts AS (
  SELECT c_custkey,
         CAST(c_custkey % 97 - 48 AS DOUBLE) + 0.5 AS lat,
         CAST(c_custkey % 113 - 56 AS DOUBLE) + 0.5 AS lon
  FROM customer
)
SELECT c_custkey,
       ROUND(DEGREES(2 * ASIN(LEAST(1.0, SQRT(
         SIN(RADIANS(48.8 - lat) / 2) * SIN(RADIANS(48.8 - lat) / 2)
         + COS(RADIANS(lat)) * COS(RADIANS(48.8))
           * SIN(RADIANS(2.3 - lon) / 2) * SIN(RADIANS(2.3 - lon) / 2)
       )))), 6) AS angle_deg,
       (((lon - 0.0) / 30.0) * ((lon - 0.0) / 30.0)
        + ((lat - 0.0) / 20.0) * ((lat - 0.0) / 20.0) <= 1.0)
       OR (((lon - 40.0) / 15.0) * ((lon - 40.0) / 15.0)
           + ((lat - 10.0) / 25.0) * ((lat - 10.0) / 25.0) <= 1.0) AS in_ell
FROM pts
""",
    tags=("scalar", "geo", "vocab"),
)
def geo_vocab_r6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """greatCircleAngle (haversine central angle in degrees, rounded — libm)
    and pointInEllipses (two constant ellipses, exact IEEE quadratics) over
    the synthetic customer lon/lat plane.  The oracle spells out the same
    haversine formula independently in DuckDB SQL."""
    from clickhouseocp_spark.functions.geo import (
        great_circle_angle,
        point_in_ellipses,
    )

    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        "c_custkey",
        ((F.col("c_custkey") % 97 - 48).cast("double") + 0.5).alias("lat"),
        ((F.col("c_custkey") % 113 - 56).cast("double") + 0.5).alias("lon"),
    )
    return pts.select(
        "c_custkey",
        F.round(
            great_circle_angle(
                F.col("lon"), F.col("lat"), F.lit(2.3), F.lit(48.8)
            ),
            6,
        ).alias("angle_deg"),
        point_in_ellipses(
            F.col("lon"), F.col("lat"),
            [(0.0, 0.0, 30.0, 20.0), (40.0, 10.0, 15.0, 25.0)],
        ).alias("in_ell"),
    )


@register(
    "geohash_cover_box",
    oracle="""
WITH xs AS (SELECT i FROM range(CAST(FLOOR((-10.3 + 180) / (360.0 / 1024)) AS BIGINT),
                                CAST(FLOOR((  5.1 + 180) / (360.0 / 1024)) AS BIGINT) + 1) r(i)),
     ys AS (SELECT j FROM range(CAST(FLOOR((40.2 + 90) / (180.0 / 1024)) AS BIGINT),
                                CAST(FLOOR((50.9 + 90) / (180.0 / 1024)) AS BIGINT) + 1) r(j)),
     enc AS (
       SELECT list_sum(list_transform(range(10), k ->
                (((i >> (9 - k)) & 1) << (19 - 2 * k))
              + (((j >> (9 - k)) & 1) << (18 - 2 * k)))) AS v
       FROM xs, ys)
SELECT array_to_string(list_transform(range(4), t ->
         substr('0123456789bcdefghjkmnpqrstuvwxyz',
                CAST(((v >> (15 - 5 * t)) & 31) AS INTEGER) + 1, 1)), '') AS gh
FROM enc
""",
    tags=("scalar", "geo", "vocab"),
)
def geohash_cover_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geohashesInBox (CH geo bucketing): every precision-4 geohash cell
    intersecting a constant box, exploded to one row per cell.  The Spark
    side encodes via interval-halving (functions/geo kernel); the oracle
    re-derives each cell INDEPENDENTLY in DuckDB SQL by integer grid
    arithmetic + explicit bit interleaving into base32 — two different
    formulations of the Niemeyer scheme, so a hash match proves the encoding
    itself, not a replay."""
    from clickhouseocp_spark.functions.geo import geohashes_in_box

    one = spark.range(1)
    cover = one.select(
        geohashes_in_box(
            F.lit(-10.3), F.lit(40.2), F.lit(5.1), F.lit(50.9), 4
        ).alias("cells")
    )
    return cover.select(F.explode("cells").alias("gh"))


@register(
    "vector_norms_vocab",
    oracle="""
SELECT vec_id,
       ROUND(list_sum(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))), 6) AS l1,
       ROUND(sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2,
       ROUND(list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))), 6) AS linf,
       ROUND(pow(list_sum(list_transform(embedding,
                  x -> pow(abs(CAST(x AS DOUBLE)), 3.0))), 1.0/3.0), 6) AS lp3,
       ROUND(pow(list_sum(list_transform(
                  list_zip(embedding, list_reverse(embedding)),
                  p -> pow(abs(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)),
                           1.5))), 1.0/1.5), 6) AS lpd15,
       ROUND(sqrt(list_sum(list_transform(embedding,
         x -> (CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
                y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))))
              * (CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
                y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))))))), 6)
         AS unit_norm
FROM embeddings
WHERE vec_id < 200
""",
    tags=("scalar", "vector", "vocab"),
)
def vector_norms_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH Lp norm/distance family (L1Norm/L2Norm/LinfNorm/LpNorm/LpDistance/
    normalizeL2 — functions/vector): all left-to-right JVM folds so the
    summation order matches DuckDB's list_sum exactly; libm pow/sqrt rounded
    on both sides.  unit_norm pins normalizeL2 (the L2 norm of the
    normalized vector is 1)."""
    from clickhouseocp_spark.functions import clickhouse_names as ch

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    return emb.select(
        "vec_id",
        F.round(ch.L1Norm("embedding"), 6).alias("l1"),
        F.round(ch.L2Norm("embedding"), 6).alias("l2"),
        F.round(ch.LinfNorm("embedding"), 6).alias("linf"),
        F.round(ch.LpNorm("embedding", 3.0), 6).alias("lp3"),
        F.round(
            ch.LpDistance("embedding", F.reverse(F.col("embedding")), 1.5), 6
        ).alias("lpd15"),
        F.round(
            ch.L2Norm(ch.normalizeL2("embedding")), 6
        ).alias("unit_norm"),
    )


@register(
    "scalar_vocab_r6c",
    oracle="""
WITH src AS (
  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price,
         list_transform(range(1, 7 + CAST(o_orderkey % 3 AS INTEGER)),
                        i -> CAST(i AS DOUBLE)) AS arr
  FROM orders WHERE o_orderkey % 100 = 0
),
flagged AS (
  SELECT *, list_transform(arr, x -> x % 3 = 1.0) AS flags FROM src
),
split_info AS (
  SELECT *,
         COALESCE(list_position(list_slice(flags, 2, len(flags)), true), 0)
           AS first_true
  FROM flagged
)
SELECT o_orderkey,
       isnan(CAST('NaN' AS DOUBLE) * price) AS is_nan_t,
       isnan(price) AS is_nan_f,
       CASE WHEN o_orderkey % 3 = 0 THEN -1.0 ELSE price END AS not_finite,
       array_to_string(list_transform(
         CASE WHEN o_orderkey % 4 = 0 THEN [0.0] ELSE [price] END,
         x -> printf('%.2f', x)), ',') AS single_arr,
       (o_orderkey % 3 = 1) AS has_sub,
       TRUE AS has_sub_empty,
       CASE WHEN first_true = 0 THEN 1
            ELSE len(list_filter(list_slice(flags, 2, len(flags)), f -> f)) + 1
       END AS n_groups,
       array_to_string(list_transform(
         CASE WHEN first_true = 0 THEN arr
              ELSE list_slice(arr, 1, first_true) END,
         x -> printf('%.1f', x)), ',') AS first_group,
       (o_orderkey << 7) | (o_orderkey >> 57) AS rot7,
       bit_count(xor(o_orderkey, o_custkey)) AS hamming,
       -o_orderkey AS tn_x, -price AS tn_y,
       o_orderkey * o_orderkey AS tm_x, price * price AS tm_y
FROM split_info
""",
    tags=("scalar", "vocab"),
)
def scalar_vocab_r6c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary batch 8: isNaN / ifNotFinite (portable NaN/Inf literals),
    emptyArrayToSingle, hasSubstr (contiguous-subsequence, incl. the
    empty-needle rule), arraySplit (aggregate-fold grouping; leading-true
    rule), bitRotateLeft / bitHammingDistance, tupleNegate / tupleMultiply.
    The oracle recomputes every expected value by independent formulations
    (e.g. has_sub from the arithmetic membership condition, n_groups /
    first_group from flag positions — not from a replayed fold).  Array
    outputs (single_arr, first_group) are emitted comma-joined with fixed
    printf formats — list cells never reach the driver hash."""
    from clickhouseocp_spark.functions import clickhouse_names as ch

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    src = o.select(
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").cast("double").alias("price"),
        F.transform(
            F.sequence(F.lit(1), F.lit(6) + (F.col("o_orderkey") % 3).cast("int")),
            lambda i: i.cast("double"),
        ).alias("arr"),
    )
    nan = F.expr("CAST('NaN' AS DOUBLE)")
    inf = F.expr("CAST('Infinity' AS DOUBLE)")
    maybe_inf = F.when(F.col("o_orderkey") % 3 == 0, inf).otherwise(F.col("price"))
    needle = F.array(F.lit(2.0), F.lit(2.0) + (F.col("o_orderkey") % 3).cast("double"))
    flags = F.transform(F.col("arr"), lambda x: x % 3 == 1.0)
    split = ch.arraySplit(flags, F.col("arr"))
    t = F.struct(F.col("o_orderkey").alias("x"), F.col("price").alias("y"))
    tn = ch.tupleNegate(t, ("x", "y"))
    tm = ch.tupleMultiply(t, t, ("x", "y"))
    return src.select(
        "o_orderkey",
        ch.isNaN(nan * F.col("price")).alias("is_nan_t"),
        ch.isNaN(F.col("price")).alias("is_nan_f"),
        ch.ifNotFinite(maybe_inf, F.lit(-1.0)).alias("not_finite"),
        F.array_join(
            F.transform(
                ch.emptyArrayToSingle(
                    F.filter(F.array(F.col("price")),
                             lambda _x: F.col("o_orderkey") % 4 != 0)
                ),
                lambda x: F.format_string("%.2f", x),
            ),
            ",",
        ).alias("single_arr"),
        ch.hasSubstr(
            F.transform(F.sequence(F.lit(1), F.lit(6)), lambda i: i.cast("double")),
            needle,
        ).alias("has_sub"),
        ch.hasSubstr(F.col("arr"),
                     F.filter(F.col("arr"), lambda _x: F.lit(False))).alias(
            "has_sub_empty"
        ),
        F.size(split).alias("n_groups"),
        F.array_join(
            F.transform(
                F.element_at(split, 1), lambda x: F.format_string("%.1f", x)
            ),
            ",",
        ).alias("first_group"),
        ch.bitRotateLeft("o_orderkey", 7).alias("rot7"),
        ch.bitHammingDistance("o_orderkey", "o_custkey").alias("hamming"),
        tn["x"].alias("tn_x"), tn["y"].alias("tn_y"),
        tm["x"].alias("tm_x"), tm["y"].alias("tm_y"),
    )


#: Porter-1980 demo-vocabulary vectors (published expected outputs — the
#: oracle side is the PAPER's answer, not a replay of the implementation)
_PORTER_VECS = [
    ("caresses", "caress"), ("ponies", "poni"), ("ties", "ti"),
    ("cats", "cat"), ("feed", "feed"), ("agreed", "agre"),
    ("plastered", "plaster"), ("motoring", "motor"), ("sing", "sing"),
    ("happy", "happi"), ("sky", "sky"), ("relational", "relat"),
    ("conditional", "condit"), ("rational", "ration"),
    ("digitizer", "digit"), ("conformabli", "conform"),
    ("radicalli", "radic"), ("differentli", "differ"),
    ("analogousli", "analog"), ("vietnamization", "vietnam"),
    ("predication", "predic"), ("operator", "oper"),
    ("feudalism", "feudal"), ("decisiveness", "decis"),
    ("hopefulness", "hope"), ("callousness", "callous"),
    ("formaliti", "formal"), ("sensitiviti", "sensit"),
    ("sensibiliti", "sensibl"), ("triplicate", "triplic"),
    ("formative", "form"), ("formalize", "formal"),
    ("electriciti", "electr"), ("electrical", "electr"),
    ("hopeful", "hope"), ("goodness", "good"), ("revival", "reviv"),
    ("allowance", "allow"), ("inference", "infer"), ("airliner", "airlin"),
    ("gyroscopic", "gyroscop"), ("adjustable", "adjust"),
    ("defensible", "defens"), ("irritant", "irrit"),
    ("replacement", "replac"), ("adjustment", "adjust"),
    ("dependent", "depend"), ("adoption", "adopt"),
    ("communism", "commun"), ("activate", "activ"),
    ("effective", "effect"), ("bowdlerize", "bowdler"),
    ("probate", "probat"), ("rate", "rate"), ("controlling", "control"),
]


@register(
    "text_stem_porter",
    oracle="SELECT * FROM (VALUES "
    + ", ".join(f"('{w}', '{s}')" for w, s in _PORTER_VECS)
    + ") AS t(word, stemmed)",
    tags=("text", "nlp", "vocab"),
)
def text_stem_porter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH ``stem('en', word)`` (experimental NLP family) as the published
    Porter 1980 algorithm (functions/text.porter_stem_py, Arrow-batched
    kernel).  The oracle pins the PAPER's demo-vocabulary expected outputs
    as literals — known-answer vectors, the punycode/base58 pattern, so a
    hash match certifies the algorithm against its publication, not against
    this implementation."""
    from clickhouseocp_spark.functions.text import stem

    words = local_frame(
        spark, [(w,) for w, _s in _PORTER_VECS], "word string"
    )
    return words.select("word", stem("word").alias("stemmed"))


@register(
    "stat_moments_vocab",
    oracle="""
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s2,
         CAST(SUM(CAST(l_quantity * l_quantity * l_quantity
                       AS DECIMAL(38,6))) AS DOUBLE) AS s3,
         CAST(SUM(CAST(l_quantity * l_quantity * l_quantity * l_quantity
                       AS DECIMAL(38,6))) AS DOUBLE) AS s4,
         ROUND(corr(l_quantity, l_extendedprice), 6) AS c_qp,
         ROUND(corr(l_quantity, l_discount), 6) AS c_qd,
         ROUND(corr(l_extendedprice, l_discount), 6) AS c_pd,
         ROUND(covar_pop(l_quantity, l_extendedprice), 6) AS v_qp,
         ROUND(covar_pop(l_quantity, l_discount), 6) AS v_qd,
         ROUND(covar_pop(l_extendedprice, l_discount), 6) AS v_pd
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * pow(s1 / n, 3))
             / pow((s2 - n * pow(s1 / n, 2)) / (n - 1), 1.5), 6) AS skew_samp,
       ROUND((s4 / n - 4 * (s1 / n) * (s3 / n)
              + 6 * pow(s1 / n, 2) * (s2 / n) - 3 * pow(s1 / n, 4))
             / pow((s2 - n * pow(s1 / n, 2)) / (n - 1), 2), 6) AS kurt_samp,
       c_qp, c_qd, c_pd, v_qp, v_qd, v_pd
FROM s ORDER BY l_returnflag
""",
    tags=("agg", "stats", "vocab"),
)
def stat_moments_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """skewSamp / kurtSamp (CH's definitions: biased central moments m3, m4
    over the SAMPLE variance denominator — not the adjusted Fisher-Pearson
    forms) and the corrMatrix / covarPopMatrix (24.1) content as flattened
    pairwise cells over (quantity, extendedprice, discount).  Raw power
    sums route through DECIMAL so both engines feed the moment formulas
    bit-identical inputs; corr/covar round at 6."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")

    def dsum(e):
        return F.sum(e.cast("decimal(38,6)")).cast("double")

    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        dsum(q).alias("s1"),
        dsum(q * q).alias("s2"),
        dsum(q * q * q).alias("s3"),
        dsum(q * q * q * q).alias("s4"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("c_qp"),
        F.round(F.corr("l_quantity", "l_discount"), 6).alias("c_qd"),
        F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("c_pd"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 6).alias("v_qp"),
        F.round(F.covar_pop("l_quantity", "l_discount"), 6).alias("v_qd"),
        F.round(F.covar_pop("l_extendedprice", "l_discount"), 6).alias("v_pd"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    mu = s1 / n
    svar = (s2 - n * mu * mu) / (n - 1)
    m3 = s3 / n - 3 * mu * (s2 / n) + 2 * F.pow(mu, 3)
    m4 = (
        s4 / n - 4 * mu * (s3 / n) + 6 * F.pow(mu, 2) * (s2 / n)
        - 3 * F.pow(mu, 4)
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round(m3 / F.pow(svar, 1.5), 6).alias("skew_samp"),
        F.round(m4 / F.pow(svar, 2), 6).alias("kurt_samp"),
        "c_qp", "c_qd", "c_pd", "v_qp", "v_qd", "v_pd",
    )


@register(
    "array_map_vocab_r9",
    oracle="""
WITH arrs AS (
  SELECT o_orderkey,
         list_transform(range(1, 2 + CAST(o_orderkey % 4 AS INTEGER)),
                        i -> CAST(i AS BIGINT)) AS a,
         list_transform(range(2, 3 + CAST(o_orderkey % 3 AS INTEGER)),
                        i -> CAST(i AS BIGINT)) AS b
  FROM orders WHERE o_orderkey % 100 = 0
)
SELECT o_orderkey,
       ROUND(CAST(len(list_intersect(a, b)) AS DOUBLE)
             / len(list_distinct(list_concat(a, b))), 6) AS jacc,
       1.0 AS jacc_self
FROM arrs
""",
    tags=("scalar", "array", "vocab"),
)
def array_map_vocab_r9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arrayJaccardIndex (23.7) — |∩|/|∪| on distinct elements, with the
    self-similarity identity as an in-query anchor.  The oracle recomputes
    via DuckDB's independent list_intersect / list_distinct(concat)
    formulation."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    arrs = o.select(
        "o_orderkey",
        F.transform(
            F.sequence(F.lit(1), F.lit(1) + (F.col("o_orderkey") % 4).cast("int")),
            lambda i: i.cast("bigint"),
        ).alias("a"),
        F.transform(
            F.sequence(F.lit(2), F.lit(2) + (F.col("o_orderkey") % 3).cast("int")),
            lambda i: i.cast("bigint"),
        ).alias("b"),
    )
    return arrs.select(
        "o_orderkey",
        F.round(ch.arrayJaccardIndex("a", "b"), 6).alias("jacc"),
        F.round(ch.arrayJaccardIndex("a", "a"), 6).alias("jacc_self"),
    )


@register(
    "sum_map_filtered",
    oracle="""
WITH per AS (
  SELECT user_id, event_type, COUNT(*) AS n
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY user_id, event_type
)
SELECT user_id,
       string_agg(event_type || ':' || CAST(n AS VARCHAR),
                  ',' ORDER BY event_type) AS type_counts
FROM per GROUP BY user_id
""",
    tags=("agg", "map", "vocab"),
)
def sum_map_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sumMapFiltered(keys)(k, v): sumMap restricted to a constant key list
    — the filter pushes into the scan (one IN predicate), so unlike a
    post-hoc map cleanup no discarded keys ever shuffle.  Rendered sorted,
    like the sum_map_agg precedent."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    per = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    maps = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    rendered = F.array_join(
        F.transform(
            F.array_sort(F.map_keys("m")),
            lambda k: F.concat(
                k, F.lit(":"), F.element_at(F.col("m"), k).cast("string")
            ),
        ),
        ",",
    )
    return maps.select("user_id", rendered.alias("type_counts"))


@register(
    "codec_vocab_r10",
    oracle="""
SELECT s_suppkey,
       TRUE AS b32_rt,
       (8 * CAST(CEIL(length(s_name) / 5.0) AS BIGINT)) AS b32_len,
       CAST(list_sum(list_transform(range(32), i ->
           (((s_suppkey >> i) & 1) << (2 * i))
         + (((s_nationkey >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS z,
       TRUE AS morton_rt
FROM supplier
""",
    tags=("scalar", "codec", "vocab"),
)
def codec_vocab_r10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """base32Encode/Decode (RFC 4648) and mortonEncode/Decode (24.x Z-order)
    over corpus rows: the oracle pins the base32 LENGTH law
    (8·ceil(n/5) with padding) and the decode∘encode identities, and
    recomputes the morton key independently by DuckDB bit arithmetic —
    value-matched, not just contracted."""
    s = load_table(spark, sf_dir, "supplier")
    b32 = ch.base32Encode(F.col("s_name"))
    z = ch.mortonEncode("s_suppkey", "s_nationkey")
    dec = ch.mortonDecode(z)
    return s.select(
        "s_suppkey",
        (ch.base32Decode(b32) == F.col("s_name")).alias("b32_rt"),
        F.length(b32).cast("bigint").alias("b32_len"),
        z.alias("z"),
        ((dec["x"] == F.col("s_suppkey"))
         & (dec["y"] == F.col("s_nationkey"))).alias("morton_rt"),
    )


@register(
    "codec_known_answers",
    oracle="""
SELECT * FROM (VALUES
  ('f', 'MY======', 1993550816),
  ('fo', 'MZXQ====', 2943590935),
  ('foo', 'MZXW6===', 2356372769),
  ('foob', 'MZXW6YQ=', 1029409986),
  ('fooba', 'MZXW6YTB', 2648720979),
  ('foobar', 'MZXW6YTBOI======', 2666930069)
) AS t(plain, b32, crc)
""",
    tags=("scalar", "codec", "vocab"),
)
def codec_known_answers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Known-answer vectors: the RFC 4648 §10 base32 test strings and their
    published encodings, plus CRC-32/ISO-HDLC values (the 'foobar' family's
    crc32 values as computed by the reference zlib implementation — pytest
    independently cross-checks stdlib zlib.crc32, and crc32('123456789') =
    0xCBF43926, the polynomial's published check value).  A hash match
    certifies the codecs against their specifications."""
    words = local_frame(
        spark, [("f",), ("fo",), ("foo",), ("foob",), ("fooba",), ("foobar",)],
        "plain string",
    )
    return words.select(
        "plain",
        ch.base32Encode(F.col("plain")).alias("b32"),
        ch.CRC32(F.col("plain")).alias("crc"),
    )


@register(
    "hilbert_curve_index",
    oracle="""
SELECT CAST(256 AS BIGINT) AS n_points, CAST(256 AS BIGINT) AS n_distinct_d,
       CAST(0 AS BIGINT) AS d_min, CAST(255 AS BIGINT) AS d_max,
       TRUE AS roundtrip_ok, CAST(1 AS BIGINT) AS max_step,
       CAST(255 AS BIGINT) AS sum_steps
""",
    tags=("scalar", "geo", "codec", "vocab"),
)
def hilbert_curve_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hilbertEncode/Decode (24.x, the locality-preserving sibling of
    mortonEncode — functions/geo kernels).  The driver-checked output is
    the curve's DEFINING properties over the full 16×16 grid, each a value
    the oracle pins exactly: bijection onto [0, 255], decode∘encode
    identity, and — the property morton does NOT have — consecutive d
    always moves exactly ONE unit in Manhattan distance (max_step = 1,
    sum_steps = n-1).  A wrong rotation/reflection anywhere breaks
    adjacency, so this is a complete correctness certificate, not a smoke
    check."""
    from clickhouseocp_spark.functions.geo import hilbert_decode, hilbert_encode

    grid = (
        spark.range(16).selectExpr("id AS x")
        .crossJoin(spark.range(16).selectExpr("id AS y"))
    )
    enc = grid.withColumn("d", hilbert_encode("x", "y", bits=4))
    dec = enc.withColumn("xy", hilbert_decode("d", bits=4))
    w = Window.orderBy("d")
    stepped = dec.withColumn(
        "step",
        F.abs(F.col("x") - F.lag("x").over(w))
        + F.abs(F.col("y") - F.lag("y").over(w)),
    )
    return stepped.agg(
        F.count("*").alias("n_points"),
        F.countDistinct("d").alias("n_distinct_d"),
        F.min("d").alias("d_min"),
        F.max("d").alias("d_max"),
        F.bool_and(
            (F.col("xy.x") == F.col("x")) & (F.col("xy.y") == F.col("y"))
        ).alias("roundtrip_ok"),
        F.max("step").alias("max_step"),
        F.sum("step").alias("sum_steps"),
    )
