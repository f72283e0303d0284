"""ClickHouse scalar vocabulary — round-5 batch (SURVEY §2.8 continuation).

New names this batch: ``widthBucket`` (ANSI width_bucket), ``countMatches``,
``translate``/``initcap``/``soundex`` (direct Spark builtins; soundex is the
CH 25.x addition), ``byteSwap`` (integer byte reversal as pure shift/mask
arithmetic), ``tupleHammingDistance``, ``toDaysSinceYearZero`` (epoch day +
719528, the documented CH offset), ``base58Encode``/``base58Decode``
(Bitcoin alphabet, Arrow-batched pandas UDF — big-int radix conversion is
inherently per-string), and ``seriesOutliersDetectTukey`` (quartile-fence
outliers, CH 23.9 time-series family).

Oracle policy: everything except base58 is replayed structurally in DuckDB
SQL (same arithmetic, composed initcap, regexp_extract_all counting);
soundex and base58 have no DuckDB equivalent, so those queries carry pinned
known-answer literals + roundtrip contracts the oracle value-matches — the
agg_approx_distinct pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from clickhouseocp_spark.catalog import load_table, local_frame
from clickhouseocp_spark.functions import clickhouse_names as ch
from clickhouseocp_spark.queries import register


@register(
    "scalar_vocab_r5",
    oracle="""
SELECT p_partkey,
       CASE WHEN p_retailprice < 800.0 THEN 0
            WHEN p_retailprice >= 1200.0 THEN 11
            ELSE CAST(FLOOR((p_retailprice - 800.0) / ((1200.0 - 800.0) / 10))
                      AS BIGINT) + 1
       END AS price_bucket,
       CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INTEGER) AS n_vowels,
       translate(p_name, 'aeiou', 'AEIOU') AS name_tr,
       array_to_string(
         list_transform(string_split(lower(p_name), ' '),
                        w -> CASE WHEN length(w) = 0 THEN w
                                  ELSE upper(w[1:1]) || w[2:] END),
         ' ') AS name_initcap,
       CAST((p_partkey % 4294967296) % 256 * 16777216
            + (p_partkey // 256) % 256 * 65536
            + (p_partkey // 65536) % 256 * 256
            + (p_partkey // 16777216) % 256 AS BIGINT) AS key_swapped,
       CAST((CASE WHEN p_size % 3 IS DISTINCT FROM p_partkey % 3
                  THEN 1 ELSE 0 END)
          + (CASE WHEN substring(p_brand, 7, 1) IS DISTINCT FROM
                       substring(p_type, 1, 1) THEN 1 ELSE 0 END)
            AS INTEGER) AS tup_hamming
FROM part WHERE p_partkey % 5 = 2
""",
    tags=("scalar", "vocab"),
)
def scalar_vocab_r5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 scalar vocabulary, DataFrame path: widthBucket (ANSI bucket
    1..n with under/overflow 0/n+1), countMatches (regexp_count),
    translate, initcap, byteSwap (32-bit domain — pure shift/mask
    arithmetic the oracle replays verbatim), tupleHammingDistance
    (NULL-safe per-field inequality sum).  All JVM-side columnar exprs."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 5 == 2)
    t1 = F.struct((F.col("p_size") % 3).alias("a"), F.substring("p_brand", 7, 1).alias("b"))
    t2 = F.struct((F.col("p_partkey") % 3).alias("a"), F.substring("p_type", 1, 1).alias("b"))
    return p.select(
        "p_partkey",
        ch.widthBucket(F.col("p_retailprice"), 800.0, 1200.0, 10).alias("price_bucket"),
        ch.countMatches(F.col("p_name"), "[aeiou]").alias("n_vowels"),
        ch.translate(F.col("p_name"), "aeiou", "AEIOU").alias("name_tr"),
        ch.initcap(F.lower(F.col("p_name"))).alias("name_initcap"),
        ch.byteSwap(F.col("p_partkey"), bits=32).alias("key_swapped"),
        ch.tupleHammingDistance(t1, t2, fields=("a", "b")).alias("tup_hamming"),
    )


#: (name, textbook American Soundex) — Spark's builtin matches all of these,
#: including the H/W pass-through rule (Ashcraft) and the leading
#: same-code-letter collapse (Pfister).
_SOUNDEX_PINS = [
    ("Robert", "R163"),
    ("Rupert", "R163"),
    ("Smith", "S530"),
    ("Johnson", "J525"),
    ("Williams", "W452"),
    ("Miller", "M460"),
    ("Tymczak", "T522"),
    ("Ashcraft", "A261"),
    ("Pfister", "P236"),
    ("Honeyman", "H555"),
]

_B58_PIN_IN = "Hello World!"
_B58_PIN_OUT = "2NEpo7TZRRrLZSi2U"  # Bitcoin-alphabet known-answer vector


@register(
    "soundex_base58_codecs",
    oracle=f"""
SELECT name, expected AS sdx,
       CASE WHEN name = '{_B58_PIN_IN}' THEN '{_B58_PIN_OUT}' ELSE '' END
         AS b58_pinned,
       TRUE AS b58_roundtrip_ok
FROM (VALUES {", ".join(f"('{n}', '{c}')" for n, c in _SOUNDEX_PINS)},
             ('{_B58_PIN_IN}', '')) v(name, expected)
ORDER BY name
""",
    tags=("scalar", "vocab", "codec"),
)
def soundex_base58_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``soundex`` (CH 25.x string family) + ``base58Encode/Decode`` (Bitcoin
    alphabet).  Neither exists in DuckDB, so the oracle value-matches pinned
    known-answer vectors: ten textbook Soundex codes (exercising the H/W
    pass-through and leading-duplicate rules) and the canonical base58 test
    string, plus a decode∘encode == identity contract computed in-query.
    The sf_dir is unused by design — codecs are data-independent."""
    df = local_frame(
        spark, [(n,) for n, _ in _SOUNDEX_PINS] + [(_B58_PIN_IN,)], "name string"
    )
    enc = ch.base58Encode(F.col("name"))
    return (
        df.select(
            "name",
            F.when(F.col("name") == _B58_PIN_IN, F.lit(""))
            .otherwise(F.soundex("name"))
            .alias("sdx"),
            F.when(F.col("name") == _B58_PIN_IN, enc).otherwise(F.lit("")).alias(
                "b58_pinned"
            ),
            (ch.base58Decode(enc) == F.col("name")).alias("b58_roundtrip_ok"),
        )
        .orderBy("name")
    )


@register(
    "codec_base32_strings",
    oracle="""
SELECT event_id AS i,
  CASE CAST(event_id % 7 AS INT)
    WHEN 0 THEN '' WHEN 1 THEN 'MY======' WHEN 2 THEN 'MZXQ===='
    WHEN 3 THEN 'MZXW6===' WHEN 4 THEN 'MZXW6YQ=' WHEN 5 THEN 'MZXW6YTB'
    ELSE 'MZXW6YTBOI======' END AS b32,
  TRUE AS rt_ok,
  'Spark_SQL' AS ov,
  repeat('ab', CAST(event_id % 4 AS INT)) AS rep,
  '[' || repeat(' ', CAST(event_id % 3 AS INT)) || ']' AS sp,
  ascii(substring('ABC', CAST(event_id % 3 AS INT) + 1, 1)) AS asc_c,
  chr(65 + CAST(event_id % 26 AS INT)) AS chr_c
FROM events WHERE event_id < 100 ORDER BY event_id
""",
    tags=("scalar", "vocab", "codec"),
)
def codec_base32_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``base32Encode/Decode`` (RFC 4648 — the full test-vector ladder
    'f'..'foobar' incl. every padding length, plus decode∘encode identity)
    and the string builtins CH shares with Spark verbatim —
    ``overlay ... PLACING``, ``repeat``, ``space``, ``ascii``, ``char`` —
    value-pinned against DuckDB closed forms."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 100)
    s = F.expr("substring('foobar', 1, CAST(event_id % 7 AS INT))")
    enc = ch.base32Encode(s)
    return ev.select(
        F.col("event_id").alias("i"),
        enc.alias("b32"),
        (ch.base32Decode(enc) == s).alias("rt_ok"),
        F.expr("overlay('Spark SQL' PLACING '_' FROM 6)").alias("ov"),
        F.expr("repeat('ab', CAST(event_id % 4 AS INT))").alias("rep"),
        F.expr(
            "concat('[', space(CAST(event_id % 3 AS INT)), ']')"
        ).alias("sp"),
        F.expr(
            "ascii(substring('ABC', CAST(event_id % 3 AS INT) + 1, 1))"
        ).alias("asc_c"),
        F.expr("char(65 + event_id % 26)").alias("chr_c"),
    ).orderBy("i")


@register(
    "series_outliers_tukey",
    oracle="""
WITH series AS (
  SELECT event_type, value FROM events WHERE user_id % 10 = 3
),
fences AS (
  SELECT event_type,
         ROUND(quantile_cont(value, 0.25), 6) AS q1,
         ROUND(quantile_cont(value, 0.75), 6) AS q3
  FROM series GROUP BY event_type
),
bounds AS (
  SELECT event_type, q1, q3,
         ROUND(q1 - 1.5 * (q3 - q1), 6) AS lo,
         ROUND(q3 + 1.5 * (q3 - q1), 6) AS hi
  FROM fences
)
SELECT s.event_type,
       b.q1, b.q3, b.lo, b.hi,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(CASE WHEN s.value < b.lo OR s.value > b.hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM series s JOIN bounds b USING (event_type)
GROUP BY s.event_type, b.q1, b.q3, b.lo, b.hi
ORDER BY s.event_type
""",
    tags=("stats", "timeseries", "vocab"),
)
def series_outliers_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``seriesOutliersDetectTukey`` (CH 23.9 time-series family): flag
    points outside the quartile fences [Q1 - 1.5·IQR, Q3 + 1.5·IQR].  CH
    takes the series as an array; the Spark-native shape keeps it columnar —
    per-key exact quartiles (percentile with linear interpolation, the same
    definition as DuckDB quantile_cont) joined back as a broadcastable
    fence table, one pass to count outliers.  Fences round(,6) on both
    engines so 1-ulp interpolation differences cannot flip the comparison.
    Plan: one agg shuffle for fences + one for the final count; the fence
    table is tiny (|event_type| rows) → broadcast join."""
    s = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 10 == 3)
        .select("event_type", "value")
    )
    fences = s.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("q1"),
        F.round(F.expr("percentile(value, 0.75)"), 6).alias("q3"),
    )
    bounds = fences.select(
        "event_type",
        "q1",
        "q3",
        F.round(F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")), 6).alias("lo"),
        F.round(F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")), 6).alias("hi"),
    )
    return (
        s.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "q1", "q3", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(
                F.when(
                    (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@register(
    "days_since_year_zero",
    oracle="""
SELECT o_orderdate,
       CAST(date_diff('day', DATE '1970-01-01', o_orderdate) + 719528
            AS BIGINT) AS days_y0,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders
GROUP BY o_orderdate ORDER BY o_orderdate LIMIT 100
""",
    tags=("scalar", "datetime", "vocab"),
)
def days_since_year_zero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``toDaysSinceYearZero``: days since 0000-01-01 proleptic Gregorian =
    epoch day + 719528 (the CH-documented constant) — exact integer date
    arithmetic on both engines."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderdate")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "o_orderdate",
            ch.toDaysSinceYearZero(F.col("o_orderdate")).alias("days_y0"),
            "n",
        )
        .orderBy("o_orderdate")
        .limit(100)
    )


@register(
    "string_bytes_stats",
    oracle="""
WITH t AS (
  SELECT doc_id, regexp_extract_all(substring(text, 1, 240), '.') AS cs
  FROM documents WHERE doc_id < 120 AND length(text) > 0
)
SELECT doc_id,
       CAST(len(list_distinct(cs)) AS INTEGER) AS bytes_uniq,
       ROUND(-list_aggregate(list_transform(list_distinct(cs),
         c -> (CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE) / len(cs))
              * log2(CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE)
                     / len(cs))), 'sum'), 6) AS bytes_entropy
FROM t
""",
    tags=("scalar", "vocab", "text"),
)
def string_bytes_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``stringBytesUniq`` / ``stringBytesEntropy`` (CH 25.5 string family):
    distinct byte count and Shannon byte entropy.  The fixture text is
    ASCII, so char==byte; the char array comes from split('') and the
    frequency fold runs as higher-order functions entirely JVM-side —
    identical term order to the oracle's list fold, so the doubles match
    bitwise before the shared round(,6).  Bounded to the first 240 chars
    (the CH functions are whole-string; the bound keeps the k·n fold
    scan-speed — documented deviation for the fixture tier)."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 120) & (F.length("text") > 0))
        .select("doc_id", F.split(F.substring("text", 1, 240), "").alias("cs0"))
        .select("doc_id", F.filter("cs0", lambda x: x != "").alias("cs"))
    )
    n = F.size("cs").cast("double")
    uniq = F.array_distinct("cs")
    p_of = lambda c: F.size(F.filter(F.col("cs"), lambda x: x == c)).cast("double") / n  # noqa: E731
    return d.select(
        "doc_id",
        F.size(uniq).alias("bytes_uniq"),
        F.round(
            -F.aggregate(
                F.transform(uniq, lambda c: p_of(c) * F.log2(p_of(c))),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("bytes_entropy"),
    )


@register(
    "array_roc_auc",
    oracle="""
WITH pts AS (
  SELECT event_type, value AS score,
         CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS label
  FROM events WHERE user_id % 7 = 2
),
ranked AS (
  SELECT event_type, score, label,
         RANK() OVER (PARTITION BY event_type ORDER BY score) AS r,
         COUNT(*) OVER (PARTITION BY event_type, score) AS ties
  FROM pts
),
agg AS (
  SELECT event_type,
         SUM(CASE WHEN label = 1 THEN r + (ties - 1) / 2.0 ELSE 0 END) AS rank_sum,
         SUM(label) AS n1,
         COUNT(*) - SUM(label) AS n0
  FROM ranked GROUP BY event_type
)
SELECT event_type,
       CAST(n1 AS BIGINT) AS n_pos,
       CAST(n0 AS BIGINT) AS n_neg,
       ROUND((rank_sum - n1 * (n1 + 1) / 2.0) / (n1 * n0), 6) AS auc
FROM agg ORDER BY event_type
""",
    tags=("stats", "ml", "vocab"),
)
def array_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``arrayAUC`` / ``arrayROCAUC``: area under the ROC curve from
    (score, binary label) pairs, with the standard tie handling (average
    rank over tied scores — the Mann-Whitney U identity AUC =
    (R₁ - n₁(n₁+1)/2) / (n₁n₀)).  CH takes parallel arrays; the Spark-native
    shape keeps the points columnar — one rank window per event_type, no
    array materialization, which is also the only shape that scales (a
    100 TB score column never has to be collected into per-group arrays).
    Identical window arithmetic on both engines → bitwise doubles before
    the shared round(,6)."""
    from pyspark.sql import Window

    pts = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 7 == 2)
        .select(
            "event_type",
            F.col("value").alias("score"),
            F.when(F.col("user_id") % 2 == 1, 1).otherwise(0).alias("label"),
        )
    )
    ranked = pts.select(
        "event_type",
        "label",
        F.rank().over(Window.partitionBy("event_type").orderBy("score")).alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type", "score"))
        .alias("ties"),
    )
    agg = ranked.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("label") == 1, F.col("r") + (F.col("ties") - 1) / 2.0).otherwise(
                0.0
            )
        ).alias("rank_sum"),
        F.sum("label").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("label")).cast("long").alias("n0"),
    )
    return agg.select(
        "event_type",
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        F.round(
            (F.col("rank_sum") - F.col("n1") * (F.col("n1") + 1) / 2.0)
            / (F.col("n1") * F.col("n0")),
            6,
        ).alias("auc"),
    ).orderBy("event_type")


@register(
    "array_levenshtein",
    oracle="""
WITH w AS (
  SELECT doc_id,
         list_transform(string_split(text, ' ')[1:10],
                        t -> least(greatest(length(t), 1), 26)) AS arr
  FROM documents WHERE length(text) > 0 AND doc_id < 150
),
pairs AS (
  SELECT a.doc_id,
         array_to_string(list_transform(a.arr, x -> chr(CAST(96 + x AS INTEGER))), '') AS sa,
         array_to_string(list_transform(b.arr, x -> chr(CAST(96 + x AS INTEGER))), '') AS sb
  FROM w a JOIN w b ON b.doc_id = a.doc_id + 1
)
SELECT doc_id, CAST(levenshtein(sa, sb) AS INTEGER) AS lev
FROM pairs
""",
    tags=("scalar", "vocab", "array"),
)
def array_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``arrayLevenshteinDistance`` (CH 25.4): Levenshtein edit distance
    between two ARRAYS (elements compared for equality, not characters).
    Classic O(len_a·len_b) DP over Arrow batches (pandas UDF — per-pair
    dynamic programming has no columnar form; arrays here are ≤10 elements
    so each pair is a bounded 10x10 table).  The oracle maps each bounded
    int element to one char and replays with string levenshtein — an exact
    isomorphism because every element is in [1, 26].  Plan: one shuffle for
    the neighbor self-join; the DP runs inside the joined partition."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _lev(a, b):
        out = []
        for xa, xb in zip(a, b):
            la, lb = list(xa), list(xb)
            prev = list(range(len(lb) + 1))
            for i, ca in enumerate(la, 1):
                cur = [i]
                for j, cb in enumerate(lb, 1):
                    cur.append(
                        min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                    )
                prev = cur
            out.append(prev[-1])
        return pd.Series(out)

    _lev.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    lev_udf = pandas_udf(_lev, "int")

    w = (
        load_table(spark, sf_dir, "documents")
        .filter((F.length("text") > 0) & (F.col("doc_id") < 150))
        .select(
            "doc_id",
            F.transform(
                F.slice(F.split("text", " "), 1, 10),
                lambda t: F.least(F.greatest(F.length(t), F.lit(1)), F.lit(26)),
            ).alias("arr"),
        )
    )
    b = w.select((F.col("doc_id") - 1).alias("doc_id"), F.col("arr").alias("arr_b"))
    pairs = w.join(b, "doc_id")
    return pairs.select("doc_id", lev_udf("arr", "arr_b").alias("lev"))


@register(
    "url_vocab_r5",
    oracle="""
WITH u AS (
  SELECT s_suppkey,
         'https://www.sup' || s_suppkey ||
         CASE WHEN s_suppkey % 2 = 0 THEN '.co.uk' ELSE '.org' END ||
         '/cat/item' || s_suppkey || '?q=' || s_nationkey || '&r=2#frag'
           || s_suppkey AS url
  FROM supplier
),
n AS (
  SELECT s_suppkey, url,
         regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)
           AS host
  FROM u
),
p AS (SELECT *, string_split(host, '.') AS parts FROM n)
SELECT s_suppkey,
       host AS netloc,
       regexp_replace(url, '://www\\.', '://') AS no_www,
       regexp_replace(url, '#.*$', '') AS no_fragment,
       regexp_extract(url, '\\?(.*)$', 1) AS qs_fragment,
       CASE WHEN parts[-2] || '.' || parts[-1] IN
                 ('co.uk','org.uk','gov.uk','ac.uk','com.cn','com.au',
                  'co.jp','com.br','co.in')
            THEN parts[-3] ELSE parts[-2] END AS first_sig,
       'a+b%26c%2Fd%3Fe%3Df' AS enc_pin,
       TRUE AS enc_roundtrip_ok
FROM p
""",
    tags=("scalar", "url", "vocab"),
)
def url_vocab_r5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL family batch B: ``netloc``, ``cutWWW``, ``cutFragment``,
    ``queryStringAndFragment``, ``firstSignificantSubdomain`` (public-suffix
    subset; both the 2-level-ccTLD and plain-TLD branches exercised) — all
    regexp-structural, replayed verbatim by the oracle — plus
    ``encodeURLComponent``/``decodeURLComponent`` pinned (Spark url_encode
    form-encoding: space → '+', documented deviation) with a
    decode∘encode == identity contract."""
    s = load_table(spark, sf_dir, "supplier")
    url = F.concat(
        F.lit("https://www.sup"),
        F.col("s_suppkey").cast("string"),
        F.when(F.col("s_suppkey") % 2 == 0, ".co.uk").otherwise(".org"),
        F.lit("/cat/item"),
        F.col("s_suppkey").cast("string"),
        F.lit("?q="),
        F.col("s_nationkey").cast("string"),
        F.lit("&r=2#frag"),
        F.col("s_suppkey").cast("string"),
    )
    d = s.select("s_suppkey", url.alias("url"))
    raw = F.lit("a b&c/d?e=f")
    return d.select(
        "s_suppkey",
        ch.netloc(F.col("url")).alias("netloc"),
        ch.cutWWW(F.col("url")).alias("no_www"),
        ch.cutFragment(F.col("url")).alias("no_fragment"),
        ch.queryStringAndFragment(F.col("url")).alias("qs_fragment"),
        ch.firstSignificantSubdomain(F.col("url")).alias("first_sig"),
        ch.encodeURLComponent(raw).alias("enc_pin"),
        (ch.decodeURLComponent(ch.encodeURLComponent(raw)) == raw).alias(
            "enc_roundtrip_ok"
        ),
    )


@register(
    "json_vocab_r5",
    oracle="""
SELECT o_orderkey,
       to_json({'k': o_orderkey, 'p': o_orderpriority}) AS doc,
       json_valid(to_json({'k': o_orderkey, 'p': o_orderpriority})) AS doc_ok,
       json_valid('{broken') AS broken_ok,
       CAST(json_array_length(to_json([o_orderkey % 5, o_orderkey % 7,
                                       o_orderkey % 5])) AS INTEGER) AS arr_len,
       json_extract_string(to_json({'k': o_orderkey,
                                    'p': o_orderpriority}), '$.p') AS p_str
FROM orders WHERE o_orderkey % 9 = 4
""",
    tags=("scalar", "json", "vocab"),
)
def json_vocab_r5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family batch B: ``toJSONString`` (compact struct serialization —
    Spark to_json and DuckDB to_json emit the identical byte layout, so the
    doc itself is value-checked), ``isValidJSON`` on both a valid doc and a
    malformed literal, ``JSONArrayLength``, ``simpleJSONExtractString``
    (visitParam fast path)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 9 == 4)
    doc = ch.toJSONString(
        F.struct(F.col("o_orderkey").alias("k"), F.col("o_orderpriority").alias("p"))
    )
    arr = ch.toJSONString(
        F.array(F.col("o_orderkey") % 5, F.col("o_orderkey") % 7, F.col("o_orderkey") % 5)
    )
    return o.select(
        "o_orderkey",
        doc.alias("doc"),
        ch.isValidJSON(doc).alias("doc_ok"),
        ch.isValidJSON(F.lit("{broken")).alias("broken_ok"),
        ch.JSONArrayLength(arr).alias("arr_len"),
        ch.simpleJSONExtractString(doc, "p").alias("p_str"),
    )


@register(
    "agg_array_vocab_r5",
    oracle="""
WITH g AS (
  SELECT l_returnflag,
         list(l_linenumber ORDER BY l_orderkey, l_linenumber) AS l
  FROM lineitem WHERE l_orderkey < 400 GROUP BY l_returnflag
)
SELECT l_returnflag,
       array_to_string(l[greatest(len(l) - 2, 1):], ',') AS last3,
       array_to_string(list_transform(l[1:8],
         x -> len(list_distinct((l[1:8])[1:list_position(l[1:8], x)]))), ',')
         AS dense8
FROM g ORDER BY l_returnflag
""",
    tags=("agg", "array", "vocab"),
)
def agg_array_vocab_r5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``groupArrayLast(n)`` (last n elements in a deterministic insertion
    order — CH 23.x agg) and ``arrayEnumerateDense`` (first-occurrence dense
    index).  The insertion order is pinned by sorting the collected
    (orderkey, linenumber) structs, so both engines build the identical
    array; arrays stringified (driver canonicalizer contract)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 400)
    g = li.groupBy("l_returnflag").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("l_orderkey", "l_linenumber"))),
            lambda s: s.l_linenumber,
        ).alias("l")
    )
    last3 = F.slice(F.col("l"), F.greatest(F.size("l") - 2, F.lit(1)), 3)
    first8 = F.slice(F.col("l"), 1, 8)
    return g.select(
        "l_returnflag",
        F.array_join(F.transform(last3, lambda x: x.cast("string")), ",").alias("last3"),
        F.array_join(
            F.transform(
                ch.arrayEnumerateDense(first8), lambda x: x.cast("string")
            ),
            ",",
        ).alias("dense8"),
    ).orderBy("l_returnflag")


@register(
    "numeric_indexed_vector",
    oracle="""
WITH per AS (
  SELECT event_type, user_id % 8 AS k,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2
),
c AS (SELECT k, v FROM per WHERE event_type = 'click'),
p AS (SELECT k, v FROM per WHERE event_type = 'purchase'),
u AS (
  SELECT COALESCE(c.k, p.k) AS k,
         COALESCE(c.v, 0) + COALESCE(p.v, 0) AS av,
         COALESCE(c.v, 0) * COALESCE(p.v, 0) AS mv
  FROM c FULL OUTER JOIN p ON c.k = p.k
)
SELECT (SELECT CAST(COUNT(*) AS INTEGER) FROM c) AS card_click,
       CAST(COUNT(*) AS INTEGER) AS card_add,
       CAST(SUM(CASE WHEN mv != 0 THEN 1 ELSE 0 END) AS INTEGER) AS card_mult,
       ROUND(list_aggregate(list(av ORDER BY k), 'sum'), 6) AS sum_add,
       ROUND(COALESCE(MAX(CASE WHEN k = 0 THEN av END), 0), 6) AS add_at_0,
       ROUND(COALESCE(MAX(CASE WHEN k = 3 THEN mv END), 0), 6) AS mult_at_3,
       (SELECT string_agg(k || ':' ||
                CAST(CAST(ROUND(v, 2) AS DECIMAL(18,2)) AS VARCHAR),
                ',' ORDER BY k) FROM c) AS click_vec
FROM u
""",
    tags=("agg", "vector", "vocab"),
)
def numeric_indexed_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``numericIndexedVector`` family (CH 25.7 — the reference pin's
    headline experimental aggregate): sparse index→value vectors as
    ``map<long,double>`` with pointwiseAdd (index union), pointwiseMultiply
    (index intersection — sparse zero==absent), getValue, cardinality,
    allValueSum, and a stable rendering (functions/indexed_vector.py).
    Per-index sums route through DECIMAL and every fold runs in key order,
    so both engines accumulate doubles identically before the shared
    round(,6).  Plan: one (type,index)-keyed agg shuffle; the two one-row
    vector frames cross-join trivially."""
    from clickhouseocp_spark.functions import indexed_vector as iv

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    base = ev.groupBy("event_type", (F.col("user_id") % 8).alias("k")).agg(
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("v")
    )
    mk = lambda t, name: (  # noqa: E731
        base.filter(F.col("event_type") == t)
        .agg(iv.build_entries(F.col("k"), F.col("v")).alias(name))
    )
    row = mk("click", "mc").crossJoin(mk("purchase", "mp"))
    add = iv.pointwise_add(F.col("mc"), F.col("mp"))
    mult = iv.pointwise_multiply(F.col("mc"), F.col("mp"))
    return row.select(
        iv.cardinality(F.col("mc")).alias("card_click"),
        iv.cardinality(add).alias("card_add"),
        iv.cardinality(mult).alias("card_mult"),
        F.round(iv.all_value_sum(add), 6).alias("sum_add"),
        F.round(iv.get_value(add, 0), 6).alias("add_at_0"),
        F.round(iv.get_value(mult, 3), 6).alias("mult_at_3"),
        iv.to_readable(F.col("mc")).alias("click_vec"),
    )


@register(
    "array_shingles",
    oracle="""
WITH w AS (
  SELECT doc_id,
         list_transform(string_split(text, ' ')[1:8],
                        t -> least(greatest(length(t), 1), 26)) AS arr
  FROM documents WHERE length(text) > 0 AND doc_id < 120
),
s AS (
  SELECT doc_id, arr,
         list_filter(
           list_transform(range(1, greatest(len(arr) - 2, 1) + 1),
                          i -> arr[i:i+2]),
           x -> len(x) = 3) AS sh
  FROM w
)
SELECT doc_id,
       CAST(len(sh) AS INTEGER) AS n_shingles,
       array_to_string(list_transform(sh, x -> array_to_string(x, '-')), ',')
         AS shingles
FROM s
""",
    tags=("scalar", "array", "vocab"),
)
def array_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``arrayShingles`` (CH 24.1): contiguous windows of length 3 over
    bounded word-length arrays — the n-gram/shingling primitive under the
    MinHash dedup tier, here as the standalone CH-named function.  Pure
    higher-order expressions on both engines; nested arrays stringified
    (driver canonicalizer contract)."""
    w = (
        load_table(spark, sf_dir, "documents")
        .filter((F.length("text") > 0) & (F.col("doc_id") < 120))
        .select(
            "doc_id",
            F.transform(
                F.slice(F.split("text", " "), 1, 8),
                lambda t: F.least(F.greatest(F.length(t), F.lit(1)), F.lit(26)),
            ).alias("arr"),
        )
    )
    sh = ch.arrayShingles(F.col("arr"), 3)
    return w.select(
        "doc_id",
        F.size(sh).alias("n_shingles"),
        F.array_join(
            F.transform(
                sh, lambda x: F.array_join(F.transform(x, lambda e: e.cast("string")), "-")
            ),
            ",",
        ).alias("shingles"),
    )


@register(
    "map_populate_series",
    oracle="""
WITH g AS (
  SELECT event_type, (user_id % 11) AS k,
         CAST(COUNT(*) AS DOUBLE) AS v
  FROM events WHERE user_id % 11 IN (1, 3, 4, 8) GROUP BY 1, 2
),
b AS (SELECT event_type, MIN(k) AS mn, MAX(k) AS mx FROM g GROUP BY 1),
axis AS (
  SELECT b.event_type, unnest(generate_series(b.mn, b.mx)) AS k FROM b
),
f AS (
  SELECT axis.event_type, axis.k, COALESCE(g.v, 0.0) AS v
  FROM axis LEFT JOIN g ON axis.event_type = g.event_type AND axis.k = g.k
)
SELECT event_type,
       CAST(COUNT(*) AS INTEGER) AS n_keys,
       string_agg(k || ':' ||
         CAST(CAST(ROUND(v, 2) AS DECIMAL(18,2)) AS VARCHAR),
         ',' ORDER BY k) AS series
FROM f GROUP BY event_type ORDER BY event_type
""",
    tags=("map", "vocab"),
)
def map_populate_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapPopulateSeries``: integer-key gap filling inside a map — build a
    sparse per-type count map on keys {1,3,4,8}, populate the 1..8 series
    with zero defaults (functions/clickhouse_names.mapPopulateSeries: one
    sequence + transform, no extra shuffle), render key-sorted.  The oracle
    replays with generate_series + left join."""
    from clickhouseocp_spark.functions import indexed_vector as iv

    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("user_id") % 11).isin(1, 3, 4, 8)
    )
    g = ev.groupBy("event_type", (F.col("user_id") % 11).alias("k")).agg(
        F.count(F.lit(1)).cast("double").alias("v")
    )
    m = g.groupBy("event_type").agg(
        iv.build_entries(F.col("k"), F.col("v")).alias("m")
    )
    filled = ch.mapPopulateSeries(F.col("m"))
    return m.select(
        "event_type",
        F.size(filled).alias("n_keys"),
        F.array_join(
            F.transform(
                F.map_entries(filled),
                lambda e: F.concat(
                    e.key.cast("string"),
                    F.lit(":"),
                    F.round(e.value, 2).cast("decimal(18,2)").cast("string"),
                ),
            ),
            ",",
        ).alias("series"),
    ).orderBy("event_type")


@register(
    "agg_vocab_r5b",
    oracle="""
WITH li AS (SELECT * FROM lineitem WHERE l_orderkey < 600),
lvl1 AS (
  SELECT l_linestatus, l_returnflag,
         list_distinct(list(l_linenumber)) AS s
  FROM li GROUP BY 1, 2
),
inter AS (
  SELECT l_linestatus,
         COALESCE(array_to_string(
           list_sort(list_reduce(list(s), (a, b) -> list_intersect(a, b))),
           ','), '') AS common_linenumbers
  FROM lvl1 GROUP BY 1
),
mx AS (
  SELECT l_linestatus, l_quantity,
         MAX(l_extendedprice) OVER (PARTITION BY l_linestatus) AS mxp,
         l_extendedprice
  FROM li
),
agg AS (
  SELECT l_linestatus,
         LEAST(COUNT(DISTINCT l_linenumber), 6) AS uniq_upto_5,
         CASE WHEN COUNT(DISTINCT l_returnflag) = 1
              THEN MIN(l_returnflag) END AS single_flag
  FROM li GROUP BY 1
),
sam AS (
  SELECT l_linestatus,
         ROUND(CAST(SUM(CASE WHEN l_extendedprice = mxp
                        THEN CAST(l_quantity AS DECIMAL(38,6)) END)
               AS DOUBLE), 6) AS sum_arg_max_qty
  FROM mx GROUP BY 1
)
SELECT a.l_linestatus,
       i.common_linenumbers,
       CAST(a.uniq_upto_5 AS BIGINT) AS uniq_upto_5,
       a.single_flag,
       s.sum_arg_max_qty
FROM agg a JOIN inter i USING (l_linestatus) JOIN sam s USING (l_linestatus)
ORDER BY a.l_linestatus
""",
    tags=("agg", "vocab"),
)
def agg_vocab_r5b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate vocabulary batch: ``groupArrayIntersect`` (CH 24.4 —
    elements present in EVERY per-returnflag set of the status group;
    intersection is order-independent so the nondeterministic collect order
    is harmless, output sorted), ``uniqUpTo(5)`` (exact up to N, N+1
    beyond), ``singleValueOrNull`` (one group has a single return flag →
    the value, the other has three → NULL — both branches exercised), and
    the ``-ArgMax`` combinator (``sumArgMax(qty, price)`` = sum of qty over
    the rows achieving the group-max price — one window + conditional
    DECIMAL sum, the same formula the oracle replays).  Plan: two keyed
    shuffles (per-flag sets, per-status fold) + one window."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 600)
    lvl1 = li.groupBy("l_linestatus", "l_returnflag").agg(
        F.collect_set("l_linenumber").alias("s")
    )
    inter = lvl1.groupBy("l_linestatus").agg(F.collect_list("s").alias("ls")).select(
        "l_linestatus",
        F.array_join(
            F.transform(
                F.sort_array(
                    F.aggregate(
                        F.slice(
                            F.col("ls"), 2, F.greatest(F.size("ls") - 1, F.lit(0))
                        ),
                        F.element_at(F.col("ls"), 1),
                        lambda acc, x: F.array_intersect(acc, x),
                    )
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("common_linenumbers"),
    )
    w = Window.partitionBy("l_linestatus")
    mx = li.withColumn("mxp", F.max("l_extendedprice").over(w))
    sam = mx.groupBy("l_linestatus").agg(
        F.round(
            F.sum(
                F.when(
                    F.col("l_extendedprice") == F.col("mxp"),
                    F.col("l_quantity").cast("decimal(38,6)"),
                )
            ).cast("double"),
            6,
        ).alias("sum_arg_max_qty")
    )
    agg = li.groupBy("l_linestatus").agg(
        F.least(F.countDistinct("l_linenumber"), F.lit(6)).cast("long").alias(
            "uniq_upto_5"
        ),
        F.when(
            F.countDistinct("l_returnflag") == 1, F.min("l_returnflag")
        ).alias("single_flag"),
    )
    return (
        agg.join(inter, "l_linestatus")
        .join(sam, "l_linestatus")
        .select(
            "l_linestatus",
            "common_linenumbers",
            "uniq_upto_5",
            "single_flag",
            "sum_arg_max_qty",
        )
        .orderBy("l_linestatus")
    )
