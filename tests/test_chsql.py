"""Unit tests for the ClickHouse-dialect → Spark SQL transpiler (chsql.py).

String-level tests need no SparkSession; the end-to-end dialect tests run
through ``ChSparkEngine.sql(dialect=...)`` plumbing via ``spark.sql`` on the
session fixture.  The 12 ``chsql_*`` registry queries hash-match DuckDB
oracles separately (test_oracle_parity / driver) — these tests pin the
rewrite *mechanics* and the documented error surface.
"""

import pytest

from pyspark.sql import functions as F

from clickhouseocp_spark.chsql import ChSqlError, tokenize, transpile


def canon(s: str) -> str:
    return "".join(s.split())


# --- tokenizer --------------------------------------------------------------


def test_tokenize_opaque_strings_and_comments():
    toks = tokenize("SELECT 'a -- not comment', x -- real comment\nFROM t")
    assert "'a -- not comment'" in toks
    assert not any("real" in t for t in toks)


def test_tokenize_numbers_and_ops():
    assert tokenize("1.5e3 >= .5") == ["1.5e3", ">=", ".5"]


# --- clause rewrites --------------------------------------------------------


def test_format_and_settings_stripped():
    out = transpile("SELECT 1 FROM t FORMAT JSONEachRow")
    assert "FORMAT" not in out
    out = transpile("SELECT 1 FROM t SETTINGS max_threads = 4")
    assert "SETTINGS" not in out


def test_final_and_global_dropped():
    out = transpile("SELECT a FROM t FINAL WHERE a GLOBAL IN (SELECT b FROM u)")
    assert "FINAL" not in out and "GLOBAL" not in out


def test_prewhere_merges_into_where():
    out = canon(transpile("SELECT a FROM t PREWHERE x > 1 WHERE y < 2"))
    assert canon("WHERE (x > 1) AND (y < 2)") in out
    out = canon(transpile("SELECT a FROM t PREWHERE x > 1 GROUP BY a"))
    assert canon("WHERE x > 1 GROUP BY a") in out


def test_limit_by_rewrite_shape():
    out = canon(
        transpile("SELECT g, v FROM t ORDER BY v DESC LIMIT 2 BY g LIMIT 10")
    )
    assert canon("row_number() OVER (PARTITION BY g ORDER BY v DESC)") in out
    assert canon("__rn <= 2") in out
    assert out.endswith(canon("LIMIT 10"))


def test_limit_by_requires_order_by():
    with pytest.raises(ChSqlError):
        transpile("SELECT g, v FROM t LIMIT 2 BY g")


def test_asof_join_backward_becomes_union_window():
    """Equi-keys + one inequality → the 1-shuffle union-window lowering
    (operators/asof.py as SQL text), not a lateral nested loop."""
    out = canon(
        transpile(
            "SELECT l.a FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.ts >= r.ts"
        )
    )
    assert canon("UNION ALL") in out
    assert canon("last(__p)IGNORE NULLS OVER") in out
    assert canon("ORDER BY __ts ASC , __side ASC") in out  # backward non-strict
    assert "LATERAL" not in out.upper()


def test_asof_join_forward_strict_orders_desc_side_desc():
    out = canon(
        transpile("SELECT l.a FROM l ASOF JOIN r ON l.k = r.k AND l.ts < r.ts")
    )
    assert canon("ORDER BY __ts DESC , __side DESC") in out  # forward strict
    assert canon("__m IS NOT NULL") in out  # CH ASOF JOIN default = INNER


def test_chsql_asof_plan_is_one_shuffle_no_nested_loop(spark, sf_dir):
    """The TEXT-path ASOF must compile to the same plan family as
    operators/asof.py: one hash-partition exchange (the window over the eq
    keys) and no nested-loop join (round-2 verdict 'what's wrong' #3)."""
    from clickhouseocp_spark.plans.inspect import formatted_plan, shuffle_count
    from clickhouseocp_spark.queries import all_queries

    df = all_queries()["chsql_asof"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "NestedLoop" not in plan, plan
    assert "LATERAL" not in plan.upper()
    assert shuffle_count(df) == 1, plan


def test_asof_join_unaliased_subquery_falls_back_to_lateral():
    """Shapes outside the union-window subset keep the general (correct but
    nested-loop) LATERAL rewrite."""
    out = canon(
        transpile(
            "SELECT 1 FROM (SELECT * FROM l) ASOF LEFT JOIN r "
            "ON x = r.k AND ts >= r.ts"
        )
    )
    assert canon("LEFT JOIN LATERAL") in out
    assert canon("ORDER BY r.ts DESC LIMIT 1") in out


def test_asof_requires_single_inequality():
    with pytest.raises(ChSqlError):
        transpile("SELECT * FROM l ASOF JOIN r ON l.k = r.k")


# --- expression rewrites ----------------------------------------------------


@pytest.mark.parametrize(
    "ch, expected",
    [
        ("SELECT countIf(x > 1) FROM t", "count_if ( x > 1 )"),
        ("SELECT sumIf(v, x = 1) FROM t", "sum ( v ) FILTER ( WHERE x = 1 )"),
        ("SELECT argMax(n, v) FROM t", "max_by ( n, v )"),
        ("SELECT uniqExact(x) FROM t", "count ( DISTINCT x )"),
        ("SELECT count() FROM t", "count ( * )"),
        ("SELECT toInt64(x) FROM t", "CAST ( x AS BIGINT )"),
        ("SELECT CAST(x AS Float64) FROM t", "CAST ( x AS DOUBLE )"),
        ("SELECT toYYYYMM(d) FROM t", "date_format ( d, 'yyyyMM' )"),
        ("SELECT position(h, 'n') FROM t", "locate ( 'n', h )"),
        ("SELECT quantile(0.9)(x) FROM t", "percentile ( x, 0.9 )"),
        (
            "SELECT arrayMap(x -> x + 1, a) FROM t",
            "transform ( a, x -> x + 1 )",
        ),
        ("SELECT x == 1 FROM t", "x = 1"),
    ],
)
def test_function_rules(ch, expected):
    assert canon(expected) in canon(transpile(ch))


def test_multiif_to_case():
    out = canon(transpile("SELECT multiIf(a, 1, b, 2, 3) FROM t"))
    assert canon("CASE WHEN a THEN 1 WHEN b THEN 2 ELSE 3 END") in out


def test_array_literal_vs_subscript():
    out = canon(transpile("SELECT [1, 2, 3] FROM t"))
    assert canon("array(1, 2, 3)") in out
    # subscripting passes through untouched (1-based CH vs 0-based Spark —
    # documented out of subset)
    out = canon(transpile("SELECT arr[1] FROM t"))
    assert canon("arr[1]") in out


def test_nested_function_rewrite():
    out = canon(transpile("SELECT sumIf(toDecimal64(v, 6), x = 1) FROM t"))
    assert canon("sum(CAST(v AS DECIMAL(38,6))) FILTER (WHERE x = 1)") in out


def test_strings_are_opaque():
    out = transpile("SELECT 'countIf(x)' FROM t")
    assert "'countIf(x)'" in out


def test_day_of_week_is_monday_one():
    out = transpile("SELECT toDayOfWeek(d) FROM t")
    assert "dayofweek" in out and "% 7" in out


# --- engine plumbing --------------------------------------------------------


def test_engine_sql_dialects(spark, sf_dir):
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(spark=spark, sf_dir=sf_dir)
    # explicit CH dialect
    n = eng.sql(
        "SELECT count() AS n FROM nation PREWHERE n_regionkey == 0",
        dialect="clickhouse",
    ).collect()[0]["n"]
    # auto fallback: invalid Spark SQL, valid CH
    n2 = eng.sql("SELECT countIf(n_regionkey == 0) AS n FROM nation").collect()[
        0
    ]["n"]
    assert n == n2 == 5
    # auto mode leaves valid Spark SQL alone
    assert eng.sql("SELECT 1 AS one").collect()[0]["one"] == 1


# --- WITH TOTALS / ARRAY JOIN rewrites --------------------------------------


def test_with_totals_rewrite():
    out = transpile("SELECT k, count() FROM t GROUP BY k WITH TOTALS")
    assert "GROUPINGSETS((k),())" in canon(out)
    with pytest.raises(ChSqlError):
        transpile("SELECT count() FROM t WITH TOTALS")


def test_with_rollup_passthrough():
    out = transpile("SELECT a, b, count() FROM t GROUP BY a, b WITH ROLLUP")
    assert "WITH ROLLUP" in out and "GROUPING SETS" not in out


def test_array_join_bare_column():
    out = transpile("SELECT x, n FROM t ARRAY JOIN x")
    assert "LATERALVIEWposexplode(x)_ajAS_aj_pos,_aj_c0" in canon(out)
    # select item keeps CH's output name via alias
    assert canon(out).startswith("SELECT_aj_c0ASx,n")


def test_array_join_aliased_and_left():
    out = transpile("SELECT v FROM t LEFT ARRAY JOIN arr AS v")
    assert "LATERALVIEWOUTERposexplode(arr)_ajAS_aj_pos,v" in canon(out)


def test_array_join_parallel_subscripts_companion():
    out = transpile("SELECT a_v, b_v FROM t ARRAY JOIN a AS a_v, b AS b_v")
    assert "posexplode(a)" in canon(out)
    assert "(b[_aj_pos])ASb_v" in canon(out)


def test_array_join_rejects_unaliased_expr():
    with pytest.raises(ChSqlError):
        transpile("SELECT 1 FROM t ARRAY JOIN splitByChar(' ', s)")


# --- SAMPLE / scalar WITH ---------------------------------------------------


def test_sample_rewrite_uses_declared_key():
    out = transpile("SELECT count() FROM lineitem SAMPLE 0.25 WHERE l_tax > 0")
    c = canon(out)
    assert "(l_orderkey%1000000)<250000" in c
    assert "SAMPLE" not in out.upper()
    assert "(l_tax>0)AND" in c  # existing WHERE preserved


def test_sample_rejects_unknown_table_and_rowcount():
    with pytest.raises(ChSqlError):
        transpile("SELECT 1 FROM mystery SAMPLE 0.5")
    with pytest.raises(ChSqlError):
        transpile("SELECT 1 FROM lineitem SAMPLE 10000")


def test_scalar_with_inlines_and_keeps_ctes():
    out = transpile(
        "WITH 3 AS k, c AS (SELECT 1 AS v) SELECT v + k FROM c"
    )
    c = canon(out)
    assert "WITHcAS(SELECT1ASv)" in c
    assert "v+(3)" in c
    # a function call with the alias name must NOT be substituted
    out2 = transpile("WITH 3 AS f SELECT f(x), f FROM t")
    assert "f(x)" in out2 and "(3)" in out2


# --- dictGet / numbers / bitmap rules ---------------------------------------


def test_dictget_rewrites_and_errors():
    out = transpile("SELECT dictGet('nation_dict', 'n_name', 3)")
    assert canon(out) == "SELECT(SELECTn_nameFROMnationWHEREn_nationkey=(3))"
    out = transpile("SELECT dictHas('region_dict', 9)")
    assert "count(1)" in out and "> 0" in out
    with pytest.raises(ChSqlError):
        transpile("SELECT dictGet('no_such_dict', 'a', 1)")
    with pytest.raises(ChSqlError):
        transpile("SELECT dictGet(dname, 'a', 1)")  # non-literal dict name


def test_numbers_table_function():
    out = transpile("SELECT sum(number) FROM numbers(100)")
    assert "range(100)" in out and "AS number" in out
    out2 = transpile("SELECT number FROM numbers(10, 5)")
    assert "range(10, (10) + (5))" in out2


def test_bitmap_vocabulary():
    out = transpile("SELECT bitmapCardinality(bitmapAnd(a, b))")
    assert canon(out) == "SELECTsize(array_sort(array_intersect(a,b)))"
    out = transpile("SELECT bitmapHasAll(a, b)")
    assert canon(out) == "SELECT(size(array_except(b,a))=0)"


def test_arrayjoin_function_and_array_combinators():
    out = transpile("SELECT arrayJoin(splitByChar(' ', s)) AS w FROM t")
    assert "explode(" in out
    out = transpile("SELECT sumArray(xs), uniqArray(xs), countArray(xs) FROM t")
    c = canon(out)
    assert "sum(aggregate(xs,CAST(0.0ASDOUBLE),(acc,x)->acc+x))" in c
    assert "size(array_distinct(flatten(collect_list(xs))))" in c
    assert "sum(size(xs))" in c


# --- LIMIT WITH TIES / WITH FILL / window vocabulary ------------------------


def test_limit_with_ties_rewrites_to_rank():
    out = transpile(
        "SELECT a, b FROM t ORDER BY b DESC LIMIT 5 WITH TIES"
    )
    assert "rank()OVER(ORDERBYbDESC)" in canon(out)
    assert "__rk<=5" in canon(out)
    assert "TIES" not in out


def test_limit_with_ties_requires_order_by():
    with pytest.raises(ChSqlError, match="ORDER BY"):
        transpile("SELECT a FROM t LIMIT 5 WITH TIES")


def test_limit_with_ties_select_star():
    """SELECT * works via the * EXCEPT (__rk) outer select (ADVICE r2 #3)."""
    out = transpile("SELECT * FROM t ORDER BY b LIMIT 3 WITH TIES")
    assert "*EXCEPT(__rk)" in canon(out)
    assert "__rk<=3" in canon(out)


def test_limit_with_ties_offset_form_rejected():
    """CH 'LIMIT off, n WITH TIES' gets a dialect diagnostic, not an opaque
    Spark parse error (ADVICE r2 #3)."""
    with pytest.raises(ChSqlError, match="WITH TIES"):
        transpile("SELECT a FROM t ORDER BY a LIMIT 2, 5 WITH TIES")


def test_if_combinator_scalar_base_passthrough():
    """The generic -If combinator only fires for aggregate bases; absIf is
    left as an unknown function, not rewritten to invalid FILTER SQL
    (ADVICE r2 #5)."""
    out = transpile("SELECT absIf(x, c) FROM t")
    assert "FILTER" not in out and "absIf" in out
    out2 = transpile("SELECT varPopIf(x, c) FROM t")
    assert "FILTER" in out2 and "var_pop" in out2


def test_with_fill_extracted_as_spec():
    from clickhouseocp_spark.chsql import transpile_with_fill

    core, fill = transpile_with_fill(
        "SELECT d, n FROM t ORDER BY d WITH FILL FROM toDate('2024-01-01') "
        "TO toDate('2024-02-01') STEP INTERVAL 1 DAY INTERPOLATE ( n )"
    )
    assert fill == {
        "col": "d",
        "from": "to_date('2024-01-01')",
        "to": "to_date('2024-02-01')",
        "step": "INTERVAL 1 DAY",
        "staleness": None,
        "interpolate": ["n"],
    }
    assert "FILL" not in core and core.endswith("ORDER BY d")


def test_with_fill_rejected_by_plain_transpile():
    with pytest.raises(ChSqlError, match="WITH FILL"):
        transpile("SELECT d FROM t ORDER BY d WITH FILL")
    with pytest.raises(ChSqlError, match="ascending"):
        transpile("SELECT d FROM t ORDER BY d DESC WITH FILL")


def test_lag_in_frame_maps_to_lag():
    out = transpile("SELECT lagInFrame(x, 1, 0.0) OVER (ORDER BY ts) FROM t")
    assert "lag(x, 1, 0.0) OVER(ORDER BY ts)" in out


def test_format_datetime_codes_and_literals():
    out = transpile("SELECT formatDateTime(ts, '%Y-%m-%dT%H:%i:%S') FROM t")
    # literal runs are Java-pattern-quoted; the quotes are doubled for the
    # SQL string literal ('' inside '...')
    assert "date_format(ts, 'yyyy''-''MM''-''dd''T''HH'':''mm'':''ss')" in out
    # %Q (quarter) joined the subset in round 6; week-based codes stay out
    # (Spark 3+ rejects all week-based DateTimeFormatter patterns)
    assert "'q'" in transpile("SELECT formatDateTime(ts, '%Q') FROM t")
    with pytest.raises(ChSqlError, match="%V"):
        transpile("SELECT formatDateTime(ts, '%V') FROM t")
    with pytest.raises(ChSqlError, match="literal"):
        transpile("SELECT formatDateTime(ts, fmt_col) FROM t")


def test_to_start_of_interval_buckets():
    out = transpile("SELECT toStartOfInterval(ts, INTERVAL 15 MINUTE) FROM t")
    assert "floor(unix_timestamp(ts) / 900" in out
    out = transpile("SELECT toStartOfInterval(ts, INTERVAL 1 MONTH) FROM t")
    assert "date_trunc('MONTH', ts)" in out
    # multi-n calendar buckets (round 15): months-since-1970 flooring
    out = transpile("SELECT toStartOfInterval(ts, INTERVAL 2 MONTH) FROM t")
    assert "make_date" in out and "* 2" in out
    with pytest.raises(ChSqlError, match="subset"):
        transpile("SELECT toStartOfInterval(ts, INTERVAL 2 WEEK) FROM t")


def test_to_start_of_week_modes():
    sunday = transpile("SELECT toStartOfWeek(d) FROM t")
    assert "date_add(d, 1)" in sunday and "date_sub" in sunday
    monday = transpile("SELECT toStartOfWeek(d, 1) FROM t")
    assert "date_trunc('WEEK', d)" in monday and "date_sub" not in monday


# --- nested-subquery clause rewrites ----------------------------------------


def test_prewhere_inside_subquery():
    out = canon(transpile(
        "SELECT * FROM (SELECT a FROM t PREWHERE x > 1 WHERE y < 2) q"
    ))
    assert canon("WHERE (x > 1) AND (y < 2)") in out
    assert "PREWHERE" not in out


def test_limit_by_inside_cte():
    out = canon(transpile(
        "WITH top2 AS (SELECT g, v FROM t ORDER BY v DESC LIMIT 2 BY g) "
        "SELECT count() FROM top2"
    ))
    assert canon("row_number() OVER (PARTITION BY g ORDER BY v DESC)") in out
    assert canon("__rn <= 2") in out


def test_sample_inside_in_subquery():
    out = canon(transpile(
        "SELECT count() FROM nation WHERE n_nationkey IN "
        "(SELECT l_orderkey FROM lineitem SAMPLE 0.5)"
    ))
    assert "(l_orderkey%1000000)<500000" in out
    assert "SAMPLE" not in out.upper()


def test_generic_if_combinator():
    out = canon(transpile("SELECT argMaxIf(n, v, v > 0) FROM t"))
    assert canon("max_by(n, v) FILTER (WHERE v > 0)") in out
    out = canon(transpile("SELECT uniqExactIf(x, y = 1), anyIf(x, y = 2) FROM t"))
    assert canon("count(DISTINCT x) FILTER (WHERE y = 1)") in out
    assert canon("any_value(x) FILTER (WHERE y = 2)") in out
    # unknown base names pass through untouched
    out = transpile("SELECT mysteryIf(x, y) FROM t")
    assert "mysteryIf(x, y)" in out


def test_named_window_inlined():
    out = canon(transpile(
        "SELECT row_number() OVER w AS rn, lagInFrame(v) OVER w AS pv "
        "FROM t WINDOW w AS (PARTITION BY g ORDER BY ts) ORDER BY rn"
    ))
    assert "OVER(PARTITIONBYgORDERBYts)ASrn" in out
    assert "lag(v)OVER(PARTITIONBYgORDERBYts)ASpv" in out
    assert "WINDOW" not in out


def test_named_window_multiple_defs():
    out = canon(transpile(
        "SELECT sum(v) OVER a AS s, rank() OVER b AS r FROM t "
        "WINDOW a AS (PARTITION BY g), b AS (ORDER BY v DESC)"
    ))
    assert "sum(v)OVER(PARTITIONBYg)" in out
    assert "rank()OVER(ORDERBYvDESC)" in out


def test_group_by_all_passthrough():
    out = transpile("SELECT g, count() AS n FROM t GROUP BY ALL")
    assert "GROUP BY ALL" in out


def test_quantile_parametric_variants():
    out = transpile("SELECT quantileTiming(0.95)(ms) FROM t")
    assert "approx_percentile(ms, 0.95)" in out
    out = transpile("SELECT quantileExactWeighted(0.5)(x, w) FROM t")
    assert "percentile(x, 0.5, w)" in out


def test_array_reduce_rule():
    out = transpile("SELECT arrayReduce('max', a), arrayReduce('uniqExact', a) FROM t")
    assert "array_max(a)" in out and "size(array_distinct(a))" in out
    with pytest.raises(ChSqlError, match="arrayReduce subset"):
        transpile("SELECT arrayReduce('corr', a) FROM t")


def test_fixed_minute_buckets():
    out = transpile("SELECT toStartOfFiveMinutes(ts) FROM t")
    assert "floor(unix_timestamp(ts) / 300" in out
    out = transpile("SELECT toStartOfFifteenMinutes(ts) FROM t")
    assert "/ 900" in out


def test_chsql_text_filter_pushdown(spark, sf_dir):
    """CH TEXT queries inherit the engine's plan discipline: a transpiled
    PREWHERE/WHERE reaches the parquet scan as PushedFilters."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    plan = eng.explain(
        "SELECT count() FROM lineitem PREWHERE l_quantity > 45 WHERE l_tax == 0",
        dialect="clickhouse",
    )
    assert "PushedFilters" in plan and "l_quantity" in plan


def test_chsql_fuzz_predicates(spark, sf_dir):
    """Seeded fuzz over the CH predicate vocabulary: random predicate trees
    rendered BOTH as CH text (through the transpiler) and as DuckDB SQL must
    select the same row count from lineitem.  Catches mis-mapped functions,
    precedence bugs, and rewrite interactions that single-function tests
    can't."""
    import random

    import duckdb

    from clickhouseocp_spark.catalog import register_tables

    register_tables(spark, sf_dir)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'"
    )

    def atom(rng):
        """(ch_sql, duck_sql) integer-valued expression."""
        return rng.choice(
            [
                ("l_orderkey", "l_orderkey"),
                ("l_linenumber", "l_linenumber"),
                ("toInt64(l_quantity)", "CAST(l_quantity AS BIGINT)"),
                ("intDiv(l_orderkey, 7)", "CAST(l_orderkey // 7 AS BIGINT)"),
                ("abs(l_linenumber - 3)", "abs(l_linenumber - 3)"),
                ("bitAnd(l_orderkey, 255)", "l_orderkey & 255"),
                ("modulo(l_orderkey, 13)", "l_orderkey % 13"),
            ]
        )

    def pred(rng, depth=0):
        if depth < 2 and rng.random() < 0.4:
            (a_ch, a_dk), (b_ch, b_dk) = pred(rng, depth + 1), pred(rng, depth + 1)
            op = rng.choice(["AND", "OR"])
            return (f"({a_ch}) {op} ({b_ch})", f"({a_dk}) {op} ({b_dk})")
        if rng.random() < 0.15:
            (a_ch, a_dk) = pred(rng, depth + 1)
            return (f"NOT ({a_ch})", f"NOT ({a_dk})")
        ch, dk = atom(rng)
        kind = rng.random()
        if kind < 0.5:
            op = rng.choice(["<", "<=", ">", ">=", "==", "!="])
            c = rng.randint(0, 50)
            return (f"{ch} {op} {c}", f"{dk} {op.replace('==', '=')} {c}")
        if kind < 0.75:
            lo = rng.randint(0, 20)
            hi = lo + rng.randint(1, 30)
            return (f"{ch} BETWEEN {lo} AND {hi}", f"{dk} BETWEEN {lo} AND {hi}")
        vals = sorted({rng.randint(0, 30) for _ in range(3)})
        lst = ", ".join(map(str, vals))
        return (f"{ch} IN ({lst})", f"{dk} IN ({lst})")

    mismatches = []
    for seed in range(40):
        rng = random.Random(seed)
        ch_pred, dk_pred = pred(rng)
        if not dk_pred.strip():
            continue
        ch_sql = f"SELECT count() AS n FROM lineitem WHERE {ch_pred}"
        n_spark = spark.sql(transpile(ch_sql)).collect()[0].n
        n_duck = con.execute(
            f"SELECT COUNT(*) FROM lineitem WHERE {dk_pred}"
        ).fetchone()[0]
        if n_spark != n_duck:
            mismatches.append((seed, ch_pred, n_spark, n_duck))
    assert not mismatches, mismatches[:3]


# --- PRQL dialect subset ----------------------------------------------------


def test_prql_transpile_shapes():
    from clickhouseocp_spark.prql import PrqlError, transpile_prql

    out = transpile_prql("from t\nfilter a == 1\nderive {b = a * 2}\ntake 3")
    assert "WHERE a = 1" in out and "a * 2 AS b" in out and out.endswith("LIMIT 3")
    out = transpile_prql("from t | sort {-x, y} | take 2")
    assert out.endswith("ORDER BY x DESC, y LIMIT 2")  # one query level
    out = transpile_prql(
        "from t\ngroup {k} (aggregate {n = count this, s = sum v})"
    )
    assert "count(*) AS n" in out and "sum(v) AS s" in out and "GROUP BY k" in out
    out = transpile_prql("from t\nfilter ts > @2024-01-31")
    assert "DATE '2024-01-31'" in out
    out = transpile_prql("from a\njoin side:left b (a.id == b.id)")
    assert "LEFT JOIN b ON a.id = b.id" in out
    import pytest as _pytest

    with _pytest.raises(PrqlError, match="from"):
        transpile_prql("filter x > 1")
    # round-8: loop is IN the subset now (WITH RECURSIVE lowering)
    assert "WITH RECURSIVE" in transpile_prql("from t\nloop (derive m = m + 1)")
    # round-6 extensions: take ranges + relational set ops (bag semantics)
    out = transpile_prql("from t | sort {-v} | take 3..5")
    assert out.endswith("ORDER BY v DESC LIMIT 3 OFFSET 2")
    assert "UNION ALL" in transpile_prql("from t | append u")
    assert "EXCEPT ALL" in transpile_prql("from t | remove u")
    assert "INTERSECT ALL" in transpile_prql("from t | intersect u")
    with _pytest.raises(PrqlError, match="empty range"):
        transpile_prql("from t | take 5..3")
    with _pytest.raises(PrqlError, match="table name"):
        transpile_prql("from t | append (from u)")


def test_prql_engine_roundtrip(spark, sf_dir):
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    rows = eng.sql(
        "from region | derive {ln = length(r_name)} | sort {r_name} | take 2",
        dialect="prql",
    ).collect()
    assert len(rows) == 2 and rows[0].ln == len(rows[0].r_name)


def test_ornull_distinct_theta_combinators():
    from clickhouseocp_spark.chsql import transpile

    out = transpile("SELECT sumOrNull(x), countOrNull(x), avgDistinct(x), uniqTheta(x) FROM t")
    assert "sum(x)" in out and "nullif(count(x), 0)" in out
    assert "avg(DISTINCT x)" in out and "approx_count_distinct(x)" in out


def test_system_one_probe(spark, sf_dir):
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    rows = eng.sql("SELECT dummy FROM system.one", dialect="clickhouse").collect()
    assert len(rows) == 1 and rows[0].dummy == 0


def test_daily_vocab_executes(spark):
    """Round-3 vocabulary sweep: every rule must EXECUTE on Spark (transpile
    alone can silently pass through unresolvable names)."""
    from clickhouseocp_spark.chsql import transpile

    spark.sql(
        "SELECT 1 AS a, 2 AS b, CAST(1.5 AS DOUBLE) AS f, 'abc9' AS s, "
        "TIMESTAMP '2024-01-02 03:04:05' AS ts, "
        "named_struct('f1', 7, 'f2', 'z') AS tp, "
        "ARRAY('k1','k2') AS ks, ARRAY(10,20) AS vs, "
        "'{\"k\":\"v\"}' AS j, 'http://www.ex.com/p?q=1' AS u2"
    ).createOrReplaceTempView("vt")
    rows = spark.sql(
        transpile(
            """
        SELECT toFixedString(s, 6) AS fx, extract(s, '[0-9]+') AS ex,
               dateSub(DAY, 3, ts) AS ds, timeSlot(ts) AS tsl, toTime(ts) AS tt,
               notLike(s, '%z%') AS nl, notILike(s, '%Z%') AS nil,
               isFinite(f) AS fin, isInfinite(f) AS inf_,
               bitTest(a, 0) AS bt, bitCount(b) AS bc,
               reverseUTF8(s) AS rev, domainWithoutWWW(u2) AS dom,
               cutQueryString(u2) AS cq, visitParamExtractString(j, 'k') AS vp,
               tupleElement(tp, 'f1') AS te, mapFromArrays(ks, vs) AS mp,
               accurateCast(a, 'Int64') AS ac, toInt64OrZero(s) AS i0,
               toInt64OrNull('42') AS i1, emptyArrayInt64() AS ea,
               arrayWithConstant(3, 7) AS awc, byteSize(s) AS bs,
               leftPadUTF8(s, 6, '.') AS lp, rand64() AS r64,
               formatReadableSize(1536) AS frs
        FROM vt
        """
        )
    ).collect()
    r = rows[0]
    assert r.ex == "9" and r.nl and r.nil and r.fin and not r.inf_
    assert r.bt == 1 and r.bc == 1 and r.rev == "9cba"
    assert r.dom == "ex.com" and r.cq == "http://www.ex.com/p"
    assert r.vp == "v" and r.te == 7 and r.mp == {"k1": 10, "k2": 20}
    assert r.ac == 1 and r.i0 == 0 and r.i1 == 42
    assert list(r.ea) == [] and list(r.awc) == [7, 7, 7]
    assert r.frs == "1.50 KiB" and r.lp == "..abc9"
    assert r.tt.day == 2  # re-anchored on 1970-01-02


def test_no_duplicate_rule_keys():
    """A duplicate key inside FUNC_RULES/PARAMETRIC_RULES silently overrides
    the earlier rule (the toStartOfWeek regression) — gate it structurally."""
    import ast
    import collections
    import pathlib

    import clickhouseocp_spark.chsql as chsql

    tree = ast.parse(pathlib.Path(chsql.__file__).read_text())
    for node in ast.walk(tree):
        if isinstance(node, ast.Dict) and len(node.keys) > 20:
            names = [
                k.value for k in node.keys
                if isinstance(k, ast.Constant) and isinstance(k.value, str)
            ]
            dupes = [n for n, c in collections.Counter(names).items() if c > 1]
            assert not dupes, f"duplicate rule keys at line {node.lineno}: {dupes}"


def test_daily_vocab_batch2_executes(spark):
    from clickhouseocp_spark.chsql import transpile

    spark.sql(
        "SELECT 1 AS a, CAST(1.5 AS DOUBLE) AS f, 'abc' AS s, "
        "TIMESTAMP '2024-01-02 03:04:05' AS ts, DATE '2024-01-02' AS d, "
        "'x,y,z' AS csv3"
    ).createOrReplaceTempView("vt2")
    r = spark.sql(
        transpile(
            """
        SELECT toISOWeek(ts) AS w, toISOYear(ts) AS yw, toWeek(ts) AS w2,
               toRelativeDayNum(ts) AS rd,
               makeDate(2024, 3, 5) AS md,
               age('day', ts, ts + INTERVAL 3 DAY) AS ag,
               substringIndex(csv3, ',', 2) AS si,
               tryBase64Decode('!!b!!') AS tb,
               levenshteinDistance(s, 'abd') AS lev,
               round(greatCircleDistance(0.0, 0.0, 1.0, 1.0), -3) AS gcd,
               toYYYYMMDD(ts) AS y8,
               toUnixTimestamp64Milli(ts) AS tm,
               toModifiedJulianDay('2024-01-02') AS mjd,
               transform(a, [1, 2], ['one', 'two'], 'other') AS tr,
               arrayMap(x -> x + 1, [1, 2]) AS am,
               normalizeQuery('SELECT 42 /*c*/') AS nq
        FROM vt2
        """
        )
    ).collect()[0]
    assert r.w == 1 and r.yw == 2024 and r.ag == 3
    assert r.si == "x,y" and r.tb is None and r.lev == 1
    assert abs(r.gcd - 157000) <= 1000  # ~157 km for 1 deg at the equator
    assert r.y8 == 20240102 and str(r.md) == "2024-03-05"
    assert r.mjd == 60311 and r.tr == "one" and list(r.am) == [2, 3]
    assert r.nq.strip() == "SELECT ?"


def test_daily_vocab_batch3_executes(spark):
    from clickhouseocp_spark.chsql import transpile

    spark.sql(
        "SELECT 'a1 b2,c3' AS s, TIMESTAMP '2024-01-02 03:04:05' AS ts, "
        "ARRAY(3, 1, 2, 1) AS arr, MAP('a', 1, 'b', 2) AS m1, "
        "MAP('b', 10, 'c', 20) AS m2"
    ).createOrReplaceTempView("vt3")
    r = spark.sql(
        transpile(
            """
        SELECT extractAll(s, '[0-9]') AS ea,
               alphaTokens(s) AS at, splitByNonAlpha(s) AS sna,
               splitByWhitespace(s) AS sw, tokens(s) AS tk,
               ngrams('Test', 2) AS ng,
               multiSearchAny(s, ['zz', 'b2']) AS msa,
               multiSearchFirstIndex(s, ['zz', 'c3']) AS msf,
               positionUTF8(s, 'b2') AS pu,
               arrayResize(arr, 2, 0) AS ar2, arrayResize(arr, 6, 9) AS ar6,
               arrayEnumerateUniq(arr) AS aeu, countEqual(arr, 1) AS ce,
               arrayReverseSort(arr) AS ars, arrayRotateLeft(arr, 1) AS arl,
               dateAdd(DAY, 3, ts) AS da, timestampSub(HOUR, 2, ts) AS tsb,
               fromModifiedJulianDay(60311) AS fmj,
               parseDateTime('2024-01-02', '%Y-%m-%d') AS pd,
               parseDateTime64BestEffort('2024/01/02 03:04:05') AS pdb,
               dateName('weekday', ts) AS dn, dateName('year', ts) AS dny,
               mapAdd(m1, m2) AS ma, mapConcat(m1, m2) AS mc,
               tupleElement(tuple(7, 'z'), 1) AS te,
               randBernoulli(1.0) AS rb,
               ignore(s) AS ig, identity(42) AS idn, materialize(5) AS mat,
               indexHint(s = 'x') AS ih
        FROM vt3
        """
        )
    ).collect()[0]
    assert list(r.ea) == ["1", "2", "3"]
    assert list(r.at) == ["a", "b", "c"]
    assert list(r.sna) == ["a1", "b2", "c3"]
    assert list(r.sw) == ["a1", "b2,c3"]
    assert list(r.tk) == ["a1", "b2", "c3"]
    assert list(r.ng) == ["Te", "es", "st"]
    assert r.msa and r.msf == 2 and r.pu == 4
    assert list(r.ar2) == [3, 1] and list(r.ar6) == [3, 1, 2, 1, 9, 9]
    assert list(r.aeu) == [1, 1, 1, 2] and r.ce == 2
    assert list(r.ars) == [3, 2, 1, 1] and list(r.arl) == [1, 2, 1, 3]
    assert str(r.da).startswith("2024-01-05")
    assert str(r.tsb).startswith("2024-01-02 01:04:05")
    assert str(r.fmj) == "2024-01-02"
    assert str(r.pd).startswith("2024-01-02") and r.pdb.hour == 3
    assert r.dn == "Tuesday" and r.dny == "2024"
    assert r.ma == {"a": 1, "b": 12, "c": 20}
    assert r.mc == {"a": 1, "b": 10, "c": 20} or r.mc == {"a": 1, "b": 2, "c": 20}
    assert r.te == 7 and r.rb == 1
    assert r.ig == 0 and r.idn == 42 and r.mat == 5 and r.ih is True


def test_vocab_batch3_diagnostics():
    """The deliberately-rejected forms raise a dialect diagnostic, not an
    opaque Spark parse error."""
    import pytest

    from clickhouseocp_spark.chsql import ChSqlError, transpile

    with pytest.raises(ChSqlError, match="arrayResize"):
        transpile("SELECT arrayResize(arr, 5) FROM t")
    with pytest.raises(ChSqlError, match="arrayReverseSort"):
        transpile("SELECT arrayReverseSort(x -> -x, arr) FROM t")
    with pytest.raises(ChSqlError, match="dateName part"):
        transpile("SELECT dateName('fortnight', ts) FROM t")
    with pytest.raises(ChSqlError, match="parseDateTime"):
        transpile("SELECT parseDateTime(s, fmt_col) FROM t")


# ---------------------------------------------------------------------------
# KQL dialect
# ---------------------------------------------------------------------------


def test_kql_transpile_mechanics():
    import pytest

    from clickhouseocp_spark.kql import KqlError, transpile_kql

    sql = transpile_kql("t | where a == 1 | project b, c = a + 1 | take 2")
    assert "WHERE a = 1" in sql and "a + 1 AS c" in sql and "LIMIT 2" in sql
    # default sort direction is DESC (KQL convention)
    assert "ORDER BY n DESC" in transpile_kql("t | summarize n=count() by k | sort by n")
    # string predicate sugar
    assert "ILIKE '%x%'" in transpile_kql("t | where s contains 'x'")
    assert "ILIKE 'x%'" in transpile_kql("t | where s startswith 'x'")
    # count operator
    assert transpile_kql("t | count").startswith("SELECT count(*) AS Count")
    # joins
    j = transpile_kql("t | join kind=leftouter (u) on k")
    assert "LEFT JOIN" in j and "__l.k = __r.k" in j
    # mv-expand / project-away / project-rename (round-5 additions)
    mv = transpile_kql("t | mv-expand x")
    assert "LATERAL VIEW EXPLODE(x)" in mv and "__mv AS x" in mv
    assert "* EXCEPT (a, b)" in transpile_kql("t | project-away a, b")
    rn = transpile_kql("t | project-rename n = o")
    assert "* EXCEPT (o)" in rn and "o AS n" in rn
    with pytest.raises(KqlError, match="mv-apply needs"):
        transpile_kql("t | mv-apply x")  # no subpipeline
    with pytest.raises(KqlError, match="unsupported aggregate"):
        transpile_kql("t | mv-apply x = a on (summarize p = percentile(x, 50))")
    mva = transpile_kql("t | mv-apply x = a on (summarize s = sum(x), n = count())")
    assert "aggregate(a, CAST(0 AS DOUBLE)" in mva and "size(a) AS n" in mva
    with pytest.raises(KqlError, match="mv-expand needs"):
        transpile_kql("t | mv-expand f(x)")
    with pytest.raises(KqlError, match="must start with a table name"):
        transpile_kql("select * from t | take 1")
    # in~ splits quote-aware: a comma INSIDE a quoted literal stays intact
    s = transpile_kql("t | where lang in~ ('a,b', 'c')")
    assert "lower(lang) IN (lower('a,b'), lower('c'))" in s


def test_kql_end_to_end(spark, sf_dir):
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark=spark)
    rows = eng.sql(
        "events | where event_type == 'click' | summarize n = count() "
        "by user_id | top 3 by n",
        dialect="kusto",
    ).collect()
    assert len(rows) == 3 and rows[0].n >= rows[-1].n
    # SET dialect = 'kusto' switches the session default
    eng.sql("SET dialect = 'kusto'")
    assert eng.sql("events | count").first().Count == eng.spark.table("events").count()
    eng.sql("SET dialect = 'auto'")


def test_kql_make_series(spark, sf_dir):
    """make-series: dense default-filled axis, start-aligned bins,
    end-exclusive; planted-value check on a tiny in-memory table."""
    import pytest

    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.kql import KqlError, transpile_kql

    spark.createDataFrame(
        [("a", "2024-01-01 00:30:00", 10.0),
         ("a", "2024-01-03 12:00:00", 20.0),
         ("b", "2024-01-09 23:59:59", 5.0),
         ("b", "2024-01-10 00:00:00", 99.0)],  # == end → excluded
        "k string, ts_s string, v double",
    ).selectExpr("k", "CAST(ts_s AS TIMESTAMP) AS ts", "v").createOrReplaceTempView(
        "__mk"
    )
    eng = ChSparkEngine(sf_dir, spark=spark)
    rows = {
        r.k: r
        for r in eng.sql(
            "__mk | make-series s = sum(v) default = -1, n = count() on ts "
            "from datetime(2024-01-01) to datetime(2024-01-10) step 3d by k",
            dialect="kusto",
        ).collect()
    }
    # axis: 3 bins (1..4, 4..7, 7..10), end-exclusive kills the 99.0 row
    assert rows["a"].s == [30.0, -1.0, -1.0]  # both a-rows fall in bin 0
    assert rows["a"].n == [2.0, 0.0, 0.0]  # count default is 0 (explicit)
    assert rows["b"].s == [-1.0, -1.0, 5.0]
    assert [t.isoformat() for t in rows["a"].ts] == [
        "2024-01-01T00:00:00", "2024-01-04T00:00:00", "2024-01-07T00:00:00"
    ]
    with pytest.raises(KqlError, match="make-series"):
        transpile_kql("t | make-series sum(v) on ts")  # missing from/to/step


def test_vocab_r6b_functions(spark):
    """Batch-7 scalar vocabulary edge cases not exercised by the registry
    oracles: invalid YYYYMMDD → NULL, unknown timedelta unit → NULL, CH doc
    example constants, geohashesInBox cell-count guard."""
    import pytest

    from clickhouseocp_spark.functions import clickhouse_names as ch
    from clickhouseocp_spark.functions.geo import geohashes_in_box_py

    row = (
        spark.range(1)
        .select(
            ch.YYYYMMDDToDate(F.lit(20240230)).alias("bad_date"),
            ch.YYYYMMDDToDate(F.lit(20240229)).alias("leap"),
            ch.parseTimeDelta(F.lit("11s+22min")).alias("doc1"),
            ch.parseTimeDelta(F.lit("1yr2mo")).alias("doc2"),
            ch.parseTimeDelta(F.lit("3 fortnights")).alias("bad_unit"),
            ch.bitTest(F.lit(10), 1).alias("b1"),
            ch.bitTestAll(F.lit(10), 1, 3).alias("ball"),
            ch.bitTestAny(F.lit(10), 0, 2).alias("bany"),
        )
        .first()
    )
    assert row.bad_date is None and str(row.leap) == "2024-02-29"
    assert row.doc1 == 1331.0  # CH docs example
    assert row.doc2 == 36741600.0  # CH docs example (yr=365.25d, mo=30d)
    assert row.bad_unit is None
    assert row.b1 == 1 and row.ball is True and row.bany is False  # 10 = 0b1010
    # geohashesInBox: a box inside one cell yields exactly that cell
    cells = geohashes_in_box_py(2.0, 48.0, 2.01, 48.01, 4)
    assert len(cells) == 1 and len(cells[0]) == 4
    with pytest.raises(ValueError, match="cap"):
        geohashes_in_box_py(-180.0, -90.0, 180.0, 90.0, 8)


def test_kql_parse_and_render(spark):
    """parse simple mode: literal/capture regex compilation, leading *,
    trailing rest-capture, typed captures, non-matching rows → NULL casts;
    render is a no-op."""
    import pytest

    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.kql import KqlError, transpile_kql

    spark.createDataFrame(
        [("dur=15ms status=OK tail",), ("dur=7ms status=ERR x",),
         ("garbage line",)],
        "msg string",
    ).createOrReplaceTempView("__logs")
    eng = ChSparkEngine.__new__(ChSparkEngine)  # avoid fixture table setup
    eng.spark = spark
    rows = spark.sql(
        transpile_kql(
            "__logs | parse msg with 'dur=' d:long 'ms status=' st ' ' rest"
        )
    ).collect()
    by = {r.msg: r for r in rows}
    r0 = by["dur=15ms status=OK tail"]
    assert (r0.d, r0.st, r0.rest) == (15, "OK", "tail")
    r2 = by["garbage line"]
    assert r2.d is None and r2.st == "" and r2.rest == ""  # simple-mode empties
    # leading * unanchors; render passes through
    sql = transpile_kql("__logs | parse msg with * 'status=' st ' ' | render barchart")
    assert spark.sql(sql).filter("st = 'ERR'").count() == 1
    with pytest.raises(KqlError, match="captures no columns"):
        transpile_kql("__logs | parse msg with 'a' 'b'")
    with pytest.raises(KqlError, match="unsupported type"):
        transpile_kql("__logs | parse msg with 'a' x:decimal 'b'")


def test_quantile_exact_variants_and_group_concat(spark, sf_dir):
    """quantileExactLow/High nearest-rank semantics + groupConcat through the
    text path (sorted for cross-partition determinism)."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark=spark)
    r = eng.sql(
        "SELECT quantileExactLow(0.5)(n_nationkey) AS lo, "
        "quantileExactHigh(0.5)(n_nationkey) AS hi, "
        "groupConcat(',')(n_name) AS names "
        "FROM nation WHERE n_regionkey = 1",
        dialect="clickhouse",
    ).first()
    # region 1 nations: keys sorted; 5 rows -> median rank exact
    import duckdb

    keys = [x[0] for x in duckdb.sql(
        f"SELECT n_nationkey FROM read_parquet('{sf_dir}/nation.parquet') "
        "WHERE n_regionkey = 1 ORDER BY 1"
    ).fetchall()]
    n = len(keys)
    import math

    assert r.lo == keys[math.floor(0.5 * (n - 1))]
    assert r.hi == keys[math.ceil(0.5 * (n - 1))]
    assert r.names == ",".join(sorted(
        x[0] for x in duckdb.sql(
            f"SELECT n_name FROM read_parquet('{sf_dir}/nation.parquet') "
            "WHERE n_regionkey = 1"
        ).fetchall()
    ))


def test_vocab_r6c_edges(spark):
    """Batch-8 edges the registry oracle doesn't reach: hasSubstr absent /
    longer-than-haystack needles, arraySplit leading-true and all-false,
    ifNotFinite NaN branch, bitRotateLeft wraparound on a high-bit value,
    normalizeL2 zero vector."""
    from clickhouseocp_spark.functions import clickhouse_names as ch
    from clickhouseocp_spark.functions.vector import normalize_l2

    arr = F.array(*[F.lit(float(v)) for v in (1, 2, 3, 4)])
    row = spark.range(1).select(
        ch.hasSubstr(arr, F.array(F.lit(2.0), F.lit(4.0))).alias("absent"),
        ch.hasSubstr(arr, F.array(*[F.lit(float(v)) for v in range(9)])).alias(
            "too_long"
        ),
        ch.arraySplit(
            F.array(F.lit(True), F.lit(False), F.lit(True), F.lit(False)), arr
        ).alias("lead_true"),
        ch.arraySplit(F.array(*[F.lit(False)] * 4), arr).alias("no_split"),
        ch.ifNotFinite(F.expr("CAST('NaN' AS DOUBLE)"), F.lit(9.0)).alias("nanb"),
        ch.bitRotateLeft(F.lit(-2).cast("bigint"), 1).alias("rot"),
        normalize_l2(F.array(F.lit(0.0), F.lit(0.0))).alias("zvec"),
    ).first()
    assert row.absent is False and row.too_long is False
    assert row.lead_true == [[1.0, 2.0], [3.0, 4.0]]  # leading true: no empty head
    assert row.no_split == [[1.0, 2.0, 3.0, 4.0]]
    assert row.nanb == 9.0
    # -2 = 0xFFFF...FE; rotate-left 1 -> 0xFFFF...FD = -3
    assert row.rot == -3
    assert row.zvec == [0.0, 0.0]


def test_kql_top_nested_mechanics(spark):
    """top-nested: three levels chain, values flow outward, error surface."""
    import pytest

    from clickhouseocp_spark.kql import KqlError, transpile_kql

    spark.createDataFrame(
        [("a", "x", 1, 10.0), ("a", "x", 2, 5.0), ("a", "y", 3, 1.0),
         ("b", "x", 4, 2.0)],
        "g string, h string, u long, v double",
    ).createOrReplaceTempView("__tn")
    rows = spark.sql(
        transpile_kql(
            "__tn | top-nested 1 of g by n1 = count(), "
            "top-nested 1 of h by n2 = count(), "
            "top-nested 1 of u by n3 = count()"
        )
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    # g='a' (3 rows) > 'b'; within a: h='x' (2) > 'y'; within a,x: u=1 ties u=2
    # -> key-asc tiebreak picks u=1
    assert (r.g, r.n1, r.h, r.n2, r.u, r.n3) == ("a", 3, "x", 2, 1, 1)
    with pytest.raises(KqlError, match="top-nested"):
        transpile_kql("__tn | top-nested g by count()")


def test_codec_vocab_r10_cross_checks(spark):
    """CRC32 equals stdlib zlib.crc32 (independent implementation); morton
    round-trips a high-bit pattern; base32Decode rejects garbage to NULL."""
    import zlib

    from clickhouseocp_spark.functions import clickhouse_names as ch

    words = ["", "a", "hello world", "x" * 100, "é中"]
    rows = spark.createDataFrame([(w,) for w in words], "w string").select(
        "w", ch.CRC32("w").alias("c"),
        ch.base32Decode(F.lit("NOT!VALID")).alias("bad"),
    ).collect()
    for r in rows:
        assert r.c == zlib.crc32(r.w.encode("utf-8")), r.w
        assert r.bad is None
    big = spark.range(1).select(
        ch.mortonDecode(ch.mortonEncode(F.lit(4294967295), F.lit(2863311530)))
        .alias("d")
    ).first()
    assert (big.d.x, big.d.y) == (4294967295, 2863311530)


def test_kql_round7_mechanics():
    """Round-7 KQL depth: join kinds, union, range source, percentile /
    conditional-aggregate sugar, general mv-apply subpipelines,
    make-series auto-bounds — transpile-level checks."""
    import pytest

    from clickhouseocp_spark.kql import KqlError, transpile_kql

    # semi/anti kinds map to Spark LEFT SEMI / LEFT ANTI; right-handed
    # kinds swap operands
    assert "LEFT ANTI JOIN" in transpile_kql("t | join kind=leftanti (u) on k")
    assert "LEFT SEMI JOIN" in transpile_kql("t | join kind=leftsemi (u) on k")
    assert "LEFT ANTI JOIN" in transpile_kql("t | join kind=anti (u) on k")
    rs = transpile_kql("t | join kind=rightsemi (u) on $left.a == $right.b")
    assert "LEFT SEMI JOIN" in rs
    assert "FROM u) __l" in rs and "__l.b = __r.a" in rs  # operands swapped
    # join right side may be a subpipeline
    jp = transpile_kql("t | join kind=inner (u | where v > 1) on k")
    assert "WHERE v > 1" in jp
    with pytest.raises(KqlError, match="join kind"):
        transpile_kql("t | join kind=bogus (u) on k")
    # union: bare table and subpipeline operands, never dedups
    un = transpile_kql("t | union u | count")
    assert "UNION ALL" in un and "DISTINCT" not in un
    up = transpile_kql("t | union (u | where v > 1)")
    assert "UNION ALL" in up and "WHERE v > 1" in up
    with pytest.raises(KqlError, match="kind=outer only"):
        transpile_kql("t | union kind=inner u")
    # range source: inclusive sequence; timespan step becomes an interval
    rg = transpile_kql("range x from 1 to 10 step 3")
    assert "explode(sequence(1, 10, 3)) AS x" in rg
    rgd = transpile_kql(
        "range d from datetime(2024-01-01) to datetime(2024-01-05) step 1d"
    )
    assert "INTERVAL 86400 SECOND" in rgd
    # percentile / countif / sumif sugar in summarize
    pc = transpile_kql(
        "t | summarize p = percentile(v, 95), c = countif(v > 1), "
        "s = sumif(v, v < 9) by k"
    )
    assert "percentile(v, 0.95)" in pc
    assert "count_if(v > 1)" in pc
    assert "sum(CASE WHEN v < 9 THEN v END)" in pc
    with pytest.raises(KqlError, match="numeric literal"):
        transpile_kql("t | summarize p = percentile(v, q) by k")
    # general mv-apply subpipeline: filter → struct promotion → folds
    mva = transpile_kql(
        "t | mv-apply e = arr on (where e > 3 | extend l = e * e "
        "| summarize s = sum(l), n = count())"
    )
    assert "filter(arr, e -> e > 3)" in mva
    assert "named_struct('e', e, 'l', e * e)" in mva
    assert "__e.l" in mva  # field-qualified ref inside the fold
    # no terminal summarize → row expansion (explode in place)
    mvx = transpile_kql("t | mv-apply e = arr on (where e > 3 | take 2)")
    assert "LATERAL VIEW EXPLODE(slice(filter(arr, e -> e > 3), 1, 2))" in mvx
    with pytest.raises(KqlError, match="last stage"):
        transpile_kql("t | mv-apply e = arr on (summarize n = count() | where n > 1)")
    with pytest.raises(KqlError, match="unsupported subpipeline stage"):
        transpile_kql("t | mv-apply e = arr on (sort by e)")
    # make-series auto-bounds: no from/to → window-derived bounds, no join
    ms = transpile_kql("t | make-series n = count() on ts step 1d by k")
    assert "OVER ()" in ms and "JOIN" not in ms.upper()
    assert "floor(unix_timestamp(ts) / 86400)" in ms  # epoch-grid bins
    # explicit from still constant-folds (no window)
    msf = transpile_kql(
        "t | make-series n = count() on ts from datetime(2024-01-01) "
        "to datetime(2024-01-10) step 1d"
    )
    assert "OVER ()" not in msf


def test_kql_round7_end_to_end(spark, sf_dir):
    """Round-7 KQL depth executed on a tiny planted table: semi/anti join
    row preservation, union append, range inclusivity, mv-apply
    fold-over-empty semantics."""
    from clickhouseocp_spark.engine import ChSparkEngine

    spark.createDataFrame(
        [(1, [1, 2, 3, 4]), (2, [5, 6]), (3, [1])],
        "k int, arr array<int>",
    ).createOrReplaceTempView("__r7t")
    spark.createDataFrame([(1,), (3,)], "k int").createOrReplaceTempView("__r7u")
    eng = ChSparkEngine(sf_dir, spark=spark)

    anti = eng.sql(
        "__r7t | join kind=leftanti (__r7u) on k | project k", dialect="kusto"
    ).collect()
    assert [r.k for r in anti] == [2]
    semi = eng.sql(
        "__r7t | join kind=rightsemi (__r7u) on k | summarize n = count()",
        dialect="kusto",
    ).collect()
    assert semi[0].n == 2  # both u-rows have a match in t

    un = eng.sql(
        "__r7u | union (__r7t | project k) | summarize n = count(), s = sum(k)",
        dialect="kusto",
    ).collect()
    assert (un[0].n, un[0].s) == (5, 10)  # 1+3 + 1+2+3, duplicates kept

    rg = eng.sql(
        "range x from 1 to 10 step 3 | summarize n = count(), s = sum(x)",
        dialect="kusto",
    ).collect()
    assert (rg[0].n, rg[0].s) == (4, 22)  # 1,4,7,10 — inclusive upper bound

    mva = {
        r.k: r
        for r in eng.sql(
            "__r7t | mv-apply e = arr on (where e > 1 | extend sq = e * e "
            "| summarize s = sum(sq), n = count(), mx = max(e))",
            dialect="kusto",
        ).collect()
    }
    assert (mva[1].s, mva[1].n, mva[1].mx) == (29.0, 3, 4)
    assert (mva[2].s, mva[2].n, mva[2].mx) == (61.0, 2, 6)
    # fold-over-empty: sum → 0, count → 0, max → NULL
    assert (mva[3].s, mva[3].n, mva[3].mx) == (0.0, 0, None)

    # row-expansion form: one output row per surviving element, struct
    # elements expand to one column per tracked field
    exp = eng.sql(
        "__r7t | mv-apply e = arr on (extend sq = e * e | take 1) "
        "| project k, e, sq",
        dialect="kusto",
    ).collect()
    assert sorted((r.k, r.e, r.sq) for r in exp) == [(1, 1, 1), (2, 5, 25), (3, 1, 1)]


def test_kql_make_series_auto_bounds(spark, sf_dir):
    """make-series without from/to: axis snaps to observed min/max bin on
    the epoch grid; end stays exclusive-of-(max+step); bounds are global
    across groups (Kusto shares one axis)."""
    from clickhouseocp_spark.engine import ChSparkEngine

    spark.createDataFrame(
        [("a", "2024-01-01 06:00:00", 10.0),
         ("a", "2024-01-04 01:00:00", 20.0),
         ("b", "2024-01-02 12:00:00", 5.0)],
        "k string, ts_s string, v double",
    ).selectExpr("k", "CAST(ts_s AS TIMESTAMP) AS ts", "v").createOrReplaceTempView(
        "__mkauto"
    )
    eng = ChSparkEngine(sf_dir, spark=spark)
    rows = {
        r.k: r
        for r in eng.sql(
            "__mkauto | make-series s = sum(v) default = -1 on ts step 1d by k",
            dialect="kusto",
        ).collect()
    }
    # global axis: 2024-01-01 .. 2024-01-04 inclusive (4 bins), even for b
    assert [t.isoformat() for t in rows["a"].ts] == [
        "2024-01-01T00:00:00", "2024-01-02T00:00:00",
        "2024-01-03T00:00:00", "2024-01-04T00:00:00",
    ]
    assert rows["a"].s == [10.0, -1.0, -1.0, 20.0]
    assert rows["b"].s == [-1.0, 5.0, -1.0, -1.0]
    assert rows["b"].ts == rows["a"].ts


def test_kql_scalar_vocab_mechanics():
    """Kusto scalar-function vocabulary → JVM expressions (round 7)."""
    import pytest

    from clickhouseocp_spark.kql import KqlError, transpile_kql

    t = transpile_kql(
        "t | extend a = strcat(x, 'y'), b = iff(v > 1, 'hi', 'lo'), "
        "c = substring(x, 0, 3), d = indexof(x, 'q'), e = tostring(v), "
        "f = isempty(x), g = case(v > 2, 'big', v > 1, 'mid', 'small'), "
        "h = split(x, '.'), j = dynamic([1, 2]), k = datetime_diff('day', p, q)"
    )
    assert "concat(x, 'y')" in t
    assert "if(v > 1, 'hi', 'lo')" in t
    assert "substr(x, (0) + 1, 3)" in t  # Kusto substring is 0-based
    assert "(locate('q', x) - 1)" in t  # 0-based indexof, -1 when missing
    assert "CAST(v AS STRING)" in t
    assert "coalesce(CAST(x AS STRING), '') = ''" in t
    assert "CASE WHEN v > 2 THEN 'big' WHEN v > 1 THEN 'mid' ELSE 'small' END" in t
    assert r"split(x, '\\.')" in t  # literal delimiter, regex-escaped
    assert "array(1, 2)" in t
    assert "timestampdiff(DAY, q, p)" in t  # Kusto d1-d2 → operand swap
    # SQL's own extract(YEAR FROM ts) survives the Kusto 3-arg extract rule
    assert "extract(YEAR FROM ts)" in transpile_kql("t | extend y = extract(YEAR FROM ts)")
    with pytest.raises(KqlError, match="odd"):
        transpile_kql("t | extend c = case(a, 1, b, 2)")  # missing default
    with pytest.raises(KqlError, match="wrong argument count"):
        transpile_kql("t | extend s = strlen()")


def test_kql_ipv4_family_and_hll(spark, sf_dir):
    """Round-10 scalar batch 5 edge semantics (values, end-to-end): IPv4
    parse/format masking, min-effective-prefix compare, has_any_index
    first-match/miss, and the hll()/dcount_hll() pair exact at tiny
    cardinality (DataSketches HLL is exact in sparse mode)."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark=spark)
    r = eng.sql(
        "print p = parse_ipv4('192.168.1.77/24'), "
        "f = format_ipv4('10.1.2.3'), "
        "fm = format_ipv4_mask('10.1.2.3', 8), "
        "sfx = ipv4_netmask_suffix('1.2.3.4'), "
        "c1 = ipv4_compare('10.0.0.1', '10.0.0.2'), "
        "c2 = ipv4_compare('10.0.0.1/24', '10.0.0.200'), "
        "i1 = has_any_index('hello world', dynamic(['x', 'world'])), "
        "i2 = has_any_index('hello world', dynamic(['nope'])), "
        "s1 = set_has_element(dynamic(['a', 'b']), 'c')",
        dialect="kusto",
    ).first()
    assert r.p == 192 * 16777216 + 168 * 65536 + 256
    assert r.f == "10.1.2.3"
    assert r.fm == "10.0.0.0/8"
    assert r.sfx == 32
    assert (r.c1, r.c2) == (-1, 0)
    assert (r.i1, r.i2) == (1, -1)
    assert r.s1 is False
    d = eng.sql(
        "datatable(k:long)[1, 2, 2, 3, 3, 3] "
        "| summarize h = hll(k) | project d = dcount_hll(h)",
        dialect="kusto",
    ).first()
    assert d.d == 3


def test_kql_search_trailing_and_database_wide(spark, sf_dir):
    """Round-10 search completions: stages may follow a table-scoped
    search (the README `| search "x" | count` shape), and prefix-less
    search scans EVERY table with typed-NULL padding + a source_ column."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark=spark)
    n_bare = eng.sql('documents | search "vector"', dialect="kusto").count()
    n_cnt = eng.sql(
        'documents | search "vector" | count', dialect="kusto"
    ).first()[0]
    assert n_bare == n_cnt
    db = eng.sql('search "NATION_3"', dialect="kusto")
    assert "source_" in db.columns
    rows = db.collect()
    assert {r.source_ for r in rows} == {"nation"}
    # case-sensitive kind respected database-wide
    assert (
        eng.sql('search kind=case_sensitive "nation_3"', dialect="kusto")
        .count()
        == 0
    )


def test_kql_project_reorder_and_consume(spark, sf_dir):
    """project-reorder: listed columns first, the rest keep their original
    order (the `c1, * EXCEPT (c1)` shape); consume: schema kept, zero
    rows."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark=spark)
    df = eng.sql("nation | project-reorder n_name | take 1", dialect="kusto")
    assert df.columns == ["n_name", "n_nationkey", "n_regionkey"]
    sunk = eng.sql("region | consume", dialect="kusto")
    assert sunk.count() == 0
    assert "r_name" in sunk.columns


def test_kql_mining_operators(spark, sf_dir):
    """reduce by / diffpatterns / autocluster (round 10): template
    grouping values, domination pruning, and the rejected-knob paths."""
    import pytest

    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.kql import KqlError, transpile_kql

    eng = ChSparkEngine(sf_dir, spark=spark)
    rows = eng.sql(
        "datatable(s:string)['err 17 at node3', 'err 99 at node4', "
        "'ok fast'] | reduce by s | sort by Count desc, Pattern asc",
        dialect="kusto",
    ).collect()
    assert [(r.Pattern, r.Count, r.Representative) for r in rows] == [
        ("err * at node*", 2, "err 17 at node3"),
        ("ok fast", 1, "ok fast"),
    ]
    with pytest.raises(KqlError, match="tuning"):
        transpile_kql("t | reduce by s with threshold=0.5")
    with pytest.raises(KqlError, match="explicit"):
        transpile_kql("t | evaluate autocluster(0.1)")
    with pytest.raises(KqlError, match="explicit"):
        transpile_kql("t | evaluate diffpatterns(sz, 'a', 'b', 0.1)")
    # autocluster domination: the (k=1) segment covers 4 of 6 rows; its
    # refinement (k=1, v='x') keeps 3 of those 4 (>= half) so the coarser
    # segment is dropped; (k=2) is below the 0.3 threshold entirely
    rows = eng.sql(
        "datatable(k:long, v:string)"
        "[1, 'x', 1, 'x', 1, 'x', 1, 'y', 2, 'y', 2, 'z'] "
        "| evaluate autocluster(0.3, k, v) "
        "| project Count, k1 = coalesce(tostring(k), '*'), "
        "v1 = coalesce(v, '*') "
        "| sort by Count desc, k1 asc, v1 asc",
        dialect="kusto",
    ).collect()
    got = [(r.Count, r.k1, r.v1) for r in rows]
    assert (3, "1", "x") in got
    assert all(not (c == 4 and k == "1" and v == "*") for c, k, v in got)
    # schema-inferred bare forms (engine level): columns = the input's
    # string columns — identical to the explicit list
    a = eng.sql(
        "documents | project lang, source | evaluate basket(0.1, lang, "
        "source) | sort by Count desc, lang asc, source asc",
        dialect="kusto",
    ).collect()
    b = eng.sql(
        "documents | project lang, source | evaluate basket(0.1) "
        "| sort by Count desc, lang asc, source asc",
        dialect="kusto",
    ).collect()
    assert a == b and len(a) > 0
    with pytest.raises(Exception, match="string attribute"):
        eng.sql(
            "events | project event_id | evaluate autocluster(0.1)",
            dialect="kusto",
        )


def test_kql_ipv4_and_csv_vs_stdlib_reference(spark, sf_dir):
    """Seeded fuzz of the round-10 scalar families against INDEPENDENT
    stdlib oracles: the IPv4 parse/format/compare/suffix quartet vs
    ``ipaddress`` over 150 random ip[/prefix] cases, and ``parse_csv``
    vs ``csv.reader`` over random records (subset charset: no embedded
    escaped quotes)."""
    import csv as csvmod
    import io
    import ipaddress
    import random

    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark=spark)
    rng = random.Random(20261)
    cases = []
    for i in range(150):
        octets = ".".join(str(rng.randrange(256)) for _ in range(4))
        sfx = rng.choice([None] + list(range(8, 33)))
        ip = octets + (f"/{sfx}" if sfx is not None else "")
        cases.append((i, ip, rng.randrange(8, 33)))
    rows = ", ".join(f"{i}, '{ip}', {p}" for i, ip, p in cases)
    got = eng.sql(
        f"datatable(i:long, ip:string, p:long)[{rows}] "
        "| project i, n = parse_ipv4(ip), f = format_ipv4(ip, p), "
        "fm = format_ipv4_mask(ip, p), sfx = ipv4_netmask_suffix(ip), "
        "c = ipv4_compare(ip, '128.0.0.0/4') "
        "| sort by i asc",
        dialect="kusto",
    ).collect()
    for (i, ip, p), r in zip(cases, got):
        assert r.i == i
        base, _, s = ip.partition("/")
        eff = int(s) if s else 32
        net = ipaddress.IPv4Network((base, eff), strict=False)
        assert r.n == int(net.network_address), (ip, p)
        eff2 = min(eff, p)
        net2 = ipaddress.IPv4Network((base, eff2), strict=False)
        assert r.f == str(net2.network_address), (ip, p)
        assert r.fm == f"{net2.network_address}/{eff2}", (ip, p)
        assert r.sfx == eff
        m = min(eff, 4)
        a = int(ipaddress.IPv4Address(base)) >> (32 - m)
        b = int(ipaddress.IPv4Address("128.0.0.0")) >> (32 - m)
        assert r.c == (a > b) - (a < b), (ip, p)

    alphabet = "abc XY-09;:/%&"
    recs = []
    for i in range(60):
        fields = [
            "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 9)))
            for _ in range(rng.randrange(1, 6))
        ]
        buf = io.StringIO()
        csvmod.writer(buf, lineterminator="").writerow(fields)
        line = buf.getvalue()
        if "'" in line or '"' in line:
            continue
        # force some quoted fields with embedded commas
        if rng.random() < 0.4 and len(fields) > 1:
            fields[0] = f"a,{fields[1]}"
            buf = io.StringIO()
            csvmod.writer(buf, lineterminator="").writerow(fields)
            line = buf.getvalue()
        recs.append((i, line, fields))
    rows = ", ".join(f"{i}, '{line}'" for i, line, _f in recs)
    got = eng.sql(
        f"datatable(i:long, s:string)[{rows}] "
        "| project i, out = strcat_array(parse_csv(s), '|') "
        "| sort by i asc",
        dialect="kusto",
    ).collect()
    for (i, line, fields), r in zip(recs, got):
        expect = next(csvmod.reader(io.StringIO(line)))
        assert r.out.split("|") == expect, (line, fields)


def test_kql_let_datatable_print(spark, sf_dir):
    """let bindings (scalar macro + tabular), datatable literal relations,
    and the print source — executed end-to-end."""
    import pytest

    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.kql import KqlError, transpile_kql

    eng = ChSparkEngine(sf_dir, spark=spark)
    r = eng.sql("print a = 1 + 1, b = strcat('x', 'y')", dialect="kusto").first()
    assert (r.a, r.b) == (2, "xy")
    rows = eng.sql(
        """
let cut = 2;
let dim = datatable(k:long, name:string)[1, 'one', 2, 'two', 3, 'three'];
dim
| where k >= cut
| extend tag = strcat(name, '-', tostring(k * cut))
| sort by k asc
""",
        dialect="kusto",
    ).collect()
    assert [(r.k, r.tag) for r in rows] == [(2, "two-4"), (3, "three-6")]
    # tabular let as a join operand
    n = eng.sql(
        """
let dim = datatable(rk:long, tag:string)[0, 'zero', 1, 'one'];
region
| join kind=inner (dim) on $left.r_regionkey == $right.rk
| summarize c = count()
""",
        dialect="kusto",
    ).first()
    assert n.c == 2
    with pytest.raises(KqlError, match="whole rows"):
        transpile_kql("datatable(a:int, b:int)[1, 2, 3] | count")
    with pytest.raises(KqlError, match="let name"):
        transpile_kql("set x = 1; t | count")


def test_kql_round7_plan_shapes(spark, sf_dir):
    """100 TB plan gates for the round-7 KQL queries: the datatable dim
    join broadcasts, semi/anti joins lower to the native Spark join types,
    auto-bounds make-series stays join-free, and the general mv-apply
    subpipeline adds ZERO exchanges (pure per-row array combinators)."""
    from clickhouseocp_spark.plans.inspect import formatted_plan, shuffle_count
    from clickhouseocp_spark.queries import all_queries

    qs = all_queries()
    plan = formatted_plan(qs["kql_let_datatable"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan

    plan = formatted_plan(qs["kql_join_anti_semi"].fn(spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan

    df = qs["kql_make_series_auto"].fn(spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p, p

    # mv-apply general subpipeline: scan → project folds, no shuffle at all
    df = qs["kql_mv_apply_pipe"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0, formatted_plan(df)


def test_prql_round7_extensions(spark):
    """PRQL round-7: select !{...} exclusion, case/f-string/?? sugar,
    window frames (rows/rolling/expanding), partitioned group-window."""
    import pytest

    from clickhouseocp_spark.prql import PrqlError, transpile_prql

    assert "* EXCEPT (a, b)" in transpile_prql("from t\nselect !{a, b}")
    e = transpile_prql(
        "from t\nderive {c = case [x > 1 => 'hi', true => 'lo'], "
        "d = y ?? 0, s = f\"{a}-{b}\"}"
    )
    assert "CASE WHEN x > 1 THEN 'hi' ELSE 'lo' END" in e
    assert "coalesce(y, 0)" in e
    assert "concat(a, '-', b)" in e
    w = transpile_prql("from t\nsort {ts}\nwindow rows:-2..0 (derive {m = average v})")
    assert "avg(v) OVER (ORDER BY ts ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)" in w
    w2 = transpile_prql("from t\nsort {ts}\nwindow expanding:true (derive {s = sum v})")
    assert "UNBOUNDED PRECEDING AND CURRENT ROW" in w2
    w3 = transpile_prql(
        "from t\nsort {ts}\ngroup {g} (window rolling:3 (derive {s = sum v}))"
    )
    assert "OVER (PARTITION BY g ORDER BY ts ROWS BETWEEN 2 PRECEDING" in w3
    with pytest.raises(PrqlError, match="preceding"):
        transpile_prql("from t\nwindow rows:-2..0 (derive {m = average v})")
    with pytest.raises(PrqlError, match="case arm"):
        transpile_prql("from t\nderive {c = case [x > 1, 2]}")

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW __prql7 AS SELECT * FROM VALUES "
        "('a', 1, 10.0), ('a', 2, 20.0), ('a', 3, 30.0), ('b', 1, 5.0), "
        "('b', 2, 15.0) AS t(g, i, v)"
    )
    rows = spark.sql(
        transpile_prql(
            "from __prql7\nsort {i}\n"
            "group {g} (window rolling:2 (derive {s = sum v}))\n"
            "select {g, i, s}\nsort {g, i}"
        )
    ).collect()
    assert [(r.g, r.i, float(r.s)) for r in rows] == [
        ("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 50.0),
        ("b", 1, 5.0), ("b", 2, 20.0),
    ]


def test_parametric_if_combinator(spark):
    """-If composes with any parametric aggregate: the base rule applies
    over CASE WHEN cond THEN arg END (aggregates skip NULLs)."""
    import pytest

    from clickhouseocp_spark.chsql import ChSqlError, transpile

    out = transpile("SELECT quantileIf(0.5)(v, k > 1) FROM t")
    assert "percentile(CASE WHEN k > 1 THEN v END, 0.5)" in out
    out = transpile("SELECT topKIf(2)(x, c) FROM t")
    assert "CASE WHEN c THEN x END" in out
    out = transpile("SELECT quantilesTiming(0.1, 0.9)(v) FROM t")
    assert "approx_percentile(v, array(0.1, 0.9))" in out
    out = transpile("SELECT quantilesGK(100, 0.5, 0.99)(v) FROM t")
    assert "approx_percentile(v, array(0.5, 0.99), 100)" in out
    with pytest.raises(ChSqlError, match="the last"):
        transpile("SELECT quantileIf(0.5)(v) FROM t")  # missing condition


def test_kql_lookup_tophitters_serialize(spark, sf_dir):
    """lookup (LEFT JOIN sugar), top-hitters (exact count/sum top-N with
    Kusto's output names), serialize row numbering."""
    import pytest

    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.kql import KqlError, transpile_kql

    spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "b"), (3, "c"), (3, "c"), (3, "c")],
        "k int, s string",
    ).createOrReplaceTempView("__lk_t")
    spark.createDataFrame([(1, "one"), (2, "two")], "k int, name string"
                          ).createOrReplaceTempView("__lk_d")
    eng = ChSparkEngine(sf_dir, spark=spark)
    th = eng.sql("__lk_t | top-hitters 2 of s", dialect="kusto").collect()
    assert [(r.s, r.approximate_count_s) for r in th] == [("c", 3), ("b", 2)]
    thw = eng.sql("__lk_t | top-hitters 1 of s by k", dialect="kusto").collect()
    assert [(r.s, r.approximate_sum_s) for r in thw] == [("c", 9)]
    lk = eng.sql(
        "__lk_t | lookup (__lk_d) on k | summarize matched = countif(isnotnull(name))",
        dialect="kusto",
    ).first()
    assert lk.matched == 3
    sz = eng.sql(
        "__lk_t | sort by k asc, s asc | serialize rn = row_number() "
        "| where rn <= 2 | project k, rn",
        dialect="kusto",
    ).collect()
    assert [(r.k, r.rn) for r in sz] == [(1, 1), (2, 2)]
    with pytest.raises(KqlError, match="preceding sort"):
        transpile_kql("t | serialize rn = row_number()")
    with pytest.raises(KqlError, match="top-hitters"):
        transpile_kql("t | top-hitters of s")


def test_file_table_function_text_path(spark, sf_dir):
    """file('/path'[, Format]) on the TEXT path → Spark's direct-file read;
    the format defaults from the extension, unsupported formats raise the
    dialect error."""
    import pytest

    from clickhouseocp_spark.chsql import ChSqlError, transpile
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark=spark)
    n = eng.sql(
        f"SELECT count() AS n FROM file('{sf_dir}/region.parquet', Parquet)"
    ).first().n
    assert n == 5
    r = eng.sql(
        f"SELECT r_name FROM file('{sf_dir}/region.parquet') "
        "ORDER BY r_regionkey LIMIT 1"
    ).first()
    assert r.r_name == "AFRICA"
    assert "parquet.`" in transpile("SELECT 1 FROM file('/x/y.parquet')")
    with pytest.raises(ChSqlError, match="unsupported format"):
        transpile("SELECT 1 FROM file('/x/y', Native)")
    with pytest.raises(ChSqlError, match="string-literal"):
        transpile("SELECT 1 FROM file(pathcol)")


def test_kql_string_range_operators(spark, sf_dir):
    """has (whole-term, case-insensitive), !contains/!startswith, =~/!~,
    between (a .. b), matches regex, in~ — and the predicates compose
    inside countif arguments (identifier-anchored LHS, not \\S+)."""
    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.kql import transpile_kql

    spark.createDataFrame(
        [("The Quick Fox", 5), ("lazy dog here", 12), ("Foxtrot dance", 8)],
        "s string, v int",
    ).createOrReplaceTempView("__strops")
    eng = ChSparkEngine(sf_dir, spark=spark)

    def count(q):
        return eng.sql(q, dialect="kusto").first().Count

    assert count("__strops | where s has 'fox' | count") == 1  # not Foxtrot
    assert count("__strops | where s !has 'fox' | count") == 2
    assert count("__strops | where s =~ 'THE QUICK FOX' | count") == 1
    assert count("__strops | where v between (5 .. 8) | count") == 2
    assert count("__strops | where v !between (5 .. 8) | count") == 1
    assert count("__strops | where s matches regex '^[A-Z]' | count") == 2
    assert count("__strops | where s in~ ('the quick fox', 'X') | count") == 1
    # predicates nested in aggregate args must not swallow the call syntax
    r = eng.sql(
        "__strops | summarize n = countif(s has 'fox'), "
        "m = countif(s =~ 'foxtrot dance')",
        dialect="kusto",
    ).first()
    assert (r.n, r.m) == (1, 1)
    assert "BETWEEN 5 AND 8" in transpile_kql("t | where v between (5 .. 8)")


def test_prql_let_bindings(spark):
    """PRQL let: scalar macro substitution + tabular named relations
    resolved at from/append."""
    import pytest

    from clickhouseocp_spark.prql import PrqlError, transpile_prql

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW __plet AS SELECT * FROM VALUES "
        "(1, 10.0), (2, 20.0), (3, 30.0) AS t(k, v)"
    )
    q = (
        "let cut = 15\n"
        "let big = (from __plet | filter v > cut)\n"
        "from big\naggregate {n = count this}"
    )
    assert spark.sql(transpile_prql(q)).first().n == 2
    q2 = (
        "let extra = (from __plet | filter k == 1)\n"
        "from __plet\nappend extra\naggregate {n = count this}"
    )
    assert spark.sql(transpile_prql(q2)).first().n == 4
    with pytest.raises(PrqlError, match="unterminated"):
        transpile_prql("let x = (from t | take 1\nfrom t")


def test_file_table_function_pushdown(spark, sf_dir):
    """The file() direct-read is a first-class scan: filters push to the
    parquet reader and the projection prunes columns."""
    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.plans.inspect import (
        pushed_filters,
        scan_read_schemas,
    )

    eng = ChSparkEngine(sf_dir, spark=spark)
    df = eng.sql(
        f"SELECT p_partkey FROM file('{sf_dir}/part.parquet') "
        "WHERE p_partkey < 100"
    )
    pf = pushed_filters(df)
    assert pf and "p_partkey" in pf[0], pf
    schemas = scan_read_schemas(df)
    assert schemas and "p_retailprice" not in schemas[0], schemas


def test_kql_scan_partition_facet_mechanics():
    """Round-8 KQL: scan (stateful row machine, linear subset), partition
    (groupwise apply), facet — transpile-level checks."""
    import pytest

    from clickhouseocp_spark.kql import KqlError, transpile_kql

    s = transpile_kql(
        "t | sort by ts asc | scan with_match_id=m with "
        "(step a: x == 1; step b: x == 2)"
    )
    # fold machinery + match-id output + sort internalized into the window
    assert "aggregate(" in s and "__mid AS m" in s
    assert "row_number() OVER (ORDER BY ts asc)" in s
    assert s.count("ORDER BY ts asc") == 1  # input ORDER BY stripped
    # string literals in predicates are never qualified as field refs
    s2 = transpile_kql(
        "t | sort by ts asc | scan with (step a: et == 'x and y')"
    )
    assert "__r.__row.et = 'x and y'" in s2
    with pytest.raises(KqlError, match="preceding sort"):
        transpile_kql("t | scan with (step a: x == 1)")
    with pytest.raises(KqlError, match="declare"):
        transpile_kql("t | sort by ts asc | scan with (step a: x == 1 => y = 2)")
    with pytest.raises(KqlError, match="at least one step"):
        transpile_kql("t | sort by ts asc | scan with ( )")
    # declare'd state: pre-row reads in pred/assignments, post values in the
    # emitted element, reset-on-completion in the state branch
    d = transpile_kql(
        "t | sort by ts asc | scan declare (tot: real = 0.0) with "
        "(step a: x == 1 => tot = tot + v)"
    )
    assert "a.__v_tot + __r.__row.v" in d        # pre-row read
    assert "'__v_tot', CAST(0.0 AS DOUBLE)" in d  # init + reset (last step)
    assert "__m.__v_tot AS tot" in d              # output column
    with pytest.raises(KqlError, match="declared variable"):
        transpile_kql(
            "t | sort by ts asc | scan declare (tot: real) with "
            "(step a: x == 1 => other = 2)"
        )
    with pytest.raises(KqlError, match="unsupported type"):
        transpile_kql(
            "t | sort by ts asc | scan declare (tot: guid) with (step a: x == 1)"
        )

    # partition: scan gets the key (one machine per key); take needs sort
    p = transpile_kql(
        "t | partition by k (sort by ts asc | scan with (step a: x == 1))"
    )
    assert "PARTITION BY k ORDER BY ts asc" in p
    p2 = transpile_kql("t | partition by k (sort by v desc | take 3)")
    assert "row_number() OVER (PARTITION BY k ORDER BY v desc" in p2
    with pytest.raises(KqlError, match="preceding sort"):
        transpile_kql("t | partition by k (take 3)")
    p3 = transpile_kql("t | partition by k (summarize n = count() by g)")
    assert "GROUP BY k, g" in p3
    with pytest.raises(KqlError, match="unsupported subpipeline"):
        transpile_kql("t | partition by k (mv-expand x)")

    f = transpile_kql("t | facet by a, b")
    assert f.count("UNION ALL") == 1 and "'a' AS facet" in f
    with pytest.raises(KqlError, match="plain column"):
        transpile_kql("t | facet by f(x)")


def test_kql_scan_single_exchange_and_values(spark, sf_dir):
    """The keyed scan plan pays exactly ONE exchange (the per-key window;
    the groupBy reuses its hash partitioning, matches explode in place) and
    the greedy machine emits the right rows."""
    import io
    import re
    from contextlib import redirect_stdout

    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    df = eng.sql(
        """
events
| partition by user_id (
    sort by ts asc, event_id asc
    | scan with_match_id=m with (
        step s1: event_type == 'signup';
        step s2: event_type == 'purchase'))
| project user_id, ts, event_type, m
""",
        dialect="kusto",
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    assert len(re.findall(r"\(\d+\) Exchange", buf.getvalue())) == 1
    rows = df.orderBy("user_id", "ts").collect()
    assert rows, "scan found no signup->purchase sequences"
    # per user: step alternation signup,purchase,... and match ids 0,1,2...
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for seq in by_user.values():
        for i, r in enumerate(seq):
            assert r.event_type == ("signup" if i % 2 == 0 else "purchase")
            assert r.m == i // 2


def test_prql_round8_join_group_forms():
    """Round-8 PRQL: the (==col) join shorthand qualifies both sides, and
    group {k} (sort | take n) lowers to a per-key row_number window."""
    import pytest

    from clickhouseocp_spark.prql import PrqlError, transpile_prql

    s = transpile_prql("from orders | join customer (==o_custkey)")
    assert "ON _p1.o_custkey = customer.o_custkey" in s
    t = transpile_prql(
        "from lineitem | group {l_orderkey} (sort {-l_extendedprice} | take 2)"
    )
    assert (
        "row_number() OVER (PARTITION BY l_orderkey "
        "ORDER BY l_extendedprice DESC" in t
    )
    assert "__gr <= 2" in t and "* EXCEPT (__gr)" in t
    with pytest.raises(PrqlError, match="group"):
        transpile_prql("from t | group {k} (take 2)")  # take needs sort


def test_kql_round8_conveniences():
    """parse-where (matching-rows filter), mv-expand with_itemindex
    (posexplode, 0-based), and `as` name binding — transpile checks."""
    from clickhouseocp_spark.kql import transpile_kql

    pw = transpile_kql("t | parse-where msg with 'id=' pid:long ';'")
    assert "RLIKE" in pw and "regexp_extract" in pw
    mi = transpile_kql("t | mv-expand with_itemindex=i arr")
    assert "POSEXPLODE(arr)" in mi and "__mvi AS i" in mi
    a = transpile_kql("t | where x == 1 | as Hot | union (Hot) | count")
    assert a.count("WHERE x = 1") == 2  # binding re-expanded in the union


def test_kql_round8_edge_cases(spark):
    """Edge sweep for the round-8 operators: empty-input scan (the typed
    empty-array init derived from data), single-row match, desc scan order,
    facet NULL grouping, md5-rank sample determinism, csv-positional
    externaldata binding."""
    import os
    import tempfile

    from clickhouseocp_spark.kql import transpile_kql

    spark.createDataFrame([], "k int, ts int, et string").createOrReplaceTempView(
        "kql_edge_t0"
    )
    assert (
        spark.sql(
            transpile_kql("kql_edge_t0 | sort by ts asc | scan with (step a: et == 'a')")
        ).count()
        == 0
    )
    spark.createDataFrame(
        [(1, 5, "a")], "k int, ts int, et string"
    ).createOrReplaceTempView("kql_edge_t1")
    row = spark.sql(
        transpile_kql(
            "kql_edge_t1 | sort by ts asc | scan with_match_id=m "
            "with (step a: et == 'a')"
        )
    ).collect()
    assert [(r.k, r.ts, r.m) for r in row] == [(1, 5, 0)]
    # desc order: the machine walks ts descending (a@2 then b@1)
    spark.createDataFrame(
        [(1, 1, "b"), (1, 2, "a")], "k int, ts int, et string"
    ).createOrReplaceTempView("kql_edge_t2")
    seq = spark.sql(
        transpile_kql(
            "kql_edge_t2 | sort by ts desc | scan "
            "with (step a: et == 'a'; step b: et == 'b')"
        )
    ).collect()
    assert [r.et for r in seq] == ["a", "b"]
    # facet groups NULLs like GROUP BY (one NULL-valued row)
    spark.createDataFrame([(None,), ("x",)], "c string").createOrReplaceTempView(
        "kql_edge_t3"
    )
    fac = {(r.value, r.count_) for r in spark.sql(
        transpile_kql("kql_edge_t3 | facet by c")
    ).collect()}
    assert fac == {(None, 1), ("x", 1)}
    # sample: md5-rank selection is deterministic across runs
    s1 = spark.sql(transpile_kql("kql_edge_t2 | sample 1")).collect()
    s2 = spark.sql(transpile_kql("kql_edge_t2 | sample 1")).collect()
    assert s1 == s2 and len(s1) == 1
    # externaldata csv binds the declared schema positionally (headerless)
    d = tempfile.mkdtemp(prefix="kql_ext_")
    p = os.path.join(d, "rows.csv")
    with open(p, "w") as f:
        f.write("1,alpha\n2,beta\n")
    got = spark.sql(
        transpile_kql(
            f"externaldata (ident: long, label: string) ['{p}'] "
            "with (format='csv') | sort by ident asc"
        )
    ).collect()
    assert [(r.ident, r.label) for r in got] == [(1, "alpha"), (2, "beta")]


def test_kql_scan_double_quoted_literal():
    """Double-quoted KQL string literals inside scan predicates are masked
    during identifier qualification — words inside them must never become
    field refs (round-8 fix)."""
    import re

    from clickhouseocp_spark.kql import transpile_kql

    s = transpile_kql('t | sort by ts asc | scan with (step a: et == "x and y")')
    m = re.search(r"a\.cur = 0 AND \(([^)]*)\)", s)
    assert m and m.group(1) == '__r.__row.et = "x and y"'


def test_kql_scalar_let_masking_and_take():
    """Scalar lets substitute into later statements WITHOUT touching string
    literals of either quote form, and the substituted (N) parenthesized
    literal works in take/limit/sample (round-8 hardening)."""
    from clickhouseocp_spark.kql import transpile_kql

    s = transpile_kql(
        "let lim = 5; t | where x > lim and et == 'lim stays' | take lim"
    )
    assert "x > (5)" in s and "'lim stays'" in s and "LIMIT 5" in s
    d = transpile_kql('let v = 2; t | where et == "v inside" | sample v')
    assert '"v inside"' in d and "LIMIT 2" in d


def test_kql_series_functions_values(spark):
    """series_* vocabulary (round 8): element-wise arithmetic with scalar
    broadcast, fills (forward/backward/const/linear incl. the Kusto edge
    rule), stats, closed-form fit — value-pinned on a literal datatable."""
    from clickhouseocp_spark.kql import transpile_kql

    r = spark.sql(
        transpile_kql(
            "datatable(k: string, v: dynamic) ['a', dynamic([1.0, 2.0, 4.0, 8.0])]"
            " | extend s = series_add(v, v), p = series_pow(v, 2),"
            "   d = series_divide(v, 2), g = series_greater_equals(v, 4),"
            "   st = series_stats_dynamic(v), fit = series_fit_line(v),"
            "   pc = series_pearson_correlation(v, series_multiply(v, 2))"
            " | project s, p, d, g, mn = st.min, mni = st.min_idx,"
            "   mx = st.max, mxi = st.max_idx, av = st.avg, tot = st.sum,"
            "   ln = st.len, slope = fit.slope, icpt = fit.interception,"
            "   r2 = fit.rsquare, lf = fit.line_fit, pc"
        )
    ).collect()[0]
    assert r.s == [2.0, 4.0, 8.0, 16.0]
    assert r.p == [1.0, 4.0, 16.0, 64.0]
    assert r.d == [0.5, 1.0, 2.0, 4.0]
    assert r.g == [False, False, True, True]
    assert (r.mn, r.mni, r.mx, r.mxi) == (1.0, 0, 8.0, 3)
    assert (r.av, r.tot, r.ln) == (3.75, 15.0, 4)
    # least squares on x=0..3, y=[1,2,4,8]: slope 2.3, intercept 0.3
    assert abs(r.slope - 2.3) < 1e-12 and abs(r.icpt - 0.3) < 1e-12
    assert 0.9 < r.r2 < 0.93
    assert abs(r.lf[1] - 2.6) < 1e-12
    # y = 2x is a perfect linear correlate
    assert abs(r.pc - 1.0) < 1e-12


def test_kql_series_fills(spark):
    """Gap fills: forward carries last non-null (leading stay null),
    backward mirrors, const replaces, linear interpolates interiors and
    clamps edges to the nearest non-null."""
    from clickhouseocp_spark.kql import transpile_kql

    r = spark.sql(
        transpile_kql(
            "datatable(k: string, v: dynamic) "
            "['a', dynamic([real(null), 1.0, real(null), real(null), 4.0,"
            " real(null), 10.0, real(null)])]"
            " | extend f = series_fill_forward(v), b = series_fill_backward(v),"
            "   c = series_fill_const(v, -1), lin = series_fill_linear(v)"
            " | project f, b, c, lin"
        )
    ).collect()[0]
    assert r.f == [None, 1.0, 1.0, 1.0, 4.0, 4.0, 10.0, 10.0]
    assert r.b == [1.0, 1.0, 4.0, 4.0, 4.0, 10.0, 10.0, None]
    assert r.c == [-1.0, 1.0, -1.0, -1.0, 4.0, -1.0, 10.0, -1.0]
    assert r.lin == [1.0, 1.0, 2.0, 3.0, 4.0, 7.0, 10.0, 10.0]


def test_map_vocabulary_batch17(spark):
    """mapApply/mapUpdate/mapContainsKeyLike/mapExtractKeyLike mechanics
    (round 8) — value-pinned on literals through the CH text path."""
    from clickhouseocp_spark.chsql import ChSqlError, transpile

    r = spark.sql(
        transpile(
            "SELECT "
            "mapValues(mapApply((k, v) -> (upper(k), v + 10), map('a', 1, 'b', 2))) AS av, "
            "mapKeys(mapApply((k, v) -> (concat(k, k), v), map('a', 1))) AS ak, "
            "mapValues(mapUpdate(map('a', 1, 'b', 2), map('b', 20, 'c', 30))) AS uv, "
            "mapContainsKeyLike(map('alpha', 1, 'beta', 2), 'be%') AS has_be, "
            "mapContainsKeyLike(map('alpha', 1), 'z%') AS has_z, "
            "mapKeys(mapExtractKeyLike(map('alpha', 1, 'beta', 2), 'al%')) AS ek, "
            "round(ngramDistance('signup', 'signup'), 6) AS d0, "
            "round(ngramDistance('abcdef', 'xyzuvw'), 6) AS d1"
        )
    ).collect()[0]
    assert r.av == [11, 12] and r.ak == ["aa"]
    assert r.uv == [1, 20, 30]
    assert r.has_be is True and r.has_z is False
    assert r.ek == ["alpha"]
    assert r.d0 == 0.0 and r.d1 == 1.0
    # round-9 advisory fixes:
    # mapUpdate — a key explicitly mapped to NULL in the second map WINS
    # (key presence, not value coalescing)
    r2 = spark.sql(
        transpile(
            "SELECT mapValues(mapUpdate(map('a', 1, 'b', 2), "
            "map_from_arrays(array('b'), array(CAST(NULL AS INT))))) AS uv2"
        )
    ).collect()[0]
    assert r2.uv2 == [1, None]
    # mapApply — a value parameter named 'key' must not corrupt the
    # injected __e.key reference (single-pass substitution)
    r3 = spark.sql(
        transpile(
            "SELECT mapValues(mapApply((k, key) -> (k, key + 1), "
            "map('a', 5))) AS av3"
        )
    ).collect()[0]
    assert r3.av3 == [6]
    # round-11: a COLLIDING key lambda is first-occurrence-wins, not a
    # Duplicate-map-key crash (Spark's default mapKeyDedupPolicy=EXCEPTION;
    # CH's Map physically tolerates duplicates — the parse-kv discipline)
    r4 = spark.sql(
        transpile(
            "SELECT mapSort(mapApply((k, v) -> (k % 2, v), "
            "map(1, 10, 2, 20, 3, 30))) AS cm"
        )
    ).collect()[0]
    assert dict(r4.cm) == {0: 20, 1: 10}
    # unsupported lambda shape is a clear error, not silent garbage
    import pytest as _pytest

    with _pytest.raises(ChSqlError):
        transpile("SELECT mapApply(v -> v, map('a', 1)) AS bad")
    with _pytest.raises(ChSqlError):
        transpile("SELECT mapApply((x, x) -> (x, x), map('a', 1)) AS bad2")


def test_json_type_simdjson_names(spark):
    """JSONType matches CH's simdjson element names (round-9 advisory fix):
    floats are 'Double', integers beyond int64 are 'UInt64' when
    non-negative and 'Double' when negative."""
    from clickhouseocp_spark.chsql import transpile

    r = spark.sql(
        transpile(
            "SELECT JSONType('1.5') AS f, JSONType('-2.5e3') AS fe, "
            "JSONType('42') AS i, JSONType('-42') AS ni, "
            "JSONType('18446744073709551615') AS u, "
            "JSONType('-18446744073709551615') AS nu"
        )
    ).collect()[0]
    assert r.f == "Double" and r.fe == "Double"
    assert r.i == "Int64" and r.ni == "Int64"
    assert r.u == "UInt64" and r.nu == "Double"


def test_kql_bag_unpack_mechanics(spark):
    """bag_unpack widens by the keys present in the DATA (union across
    rows, sorted), supports a column prefix, and rejects non-map inputs."""
    import pytest as _pytest

    from clickhouseocp_spark.chsql import ChSqlError
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    got = eng.sql(
        "datatable(rid: long, tag: string) [1, 'x', 2, 'y']"
        " | extend b = iff(rid == 1, bag_pack('p', rid * 10, 'q', rid),"
        "                  bag_pack('q', rid, 'r', rid * 100))"
        " | project rid, b"
        " | evaluate bag_unpack(b, 'u_')"
        " | sort by rid asc",
        dialect="kusto",
    )
    assert got.columns == ["rid", "u_p", "u_q", "u_r"]
    rows = [tuple(r) for r in got.collect()]
    assert rows == [(1, 10, 1, None), (2, None, 2, 200)]
    with _pytest.raises(ChSqlError):
        eng.sql(
            "datatable(rid: long, s: string) [1, 'x']"
            " | evaluate bag_unpack(s)",
            dialect="kusto",
        )


def test_h3_index_math(spark):
    """H3 index-math tier (round 8): bit-layout arithmetic pinned on the
    canonical public example cell 8928308280fffff (res 9): parent at res 8
    is 8828308281fffff (digit 9 refills to 7, res field decrements), base
    cell 20, class-III (odd res), not a pentagon, hex round trip, center
    child/children integrity (every child's parent is the original)."""
    from clickhouseocp_spark.chsql import transpile

    r = spark.sql(
        transpile(
            "SELECT stringToH3('8928308280fffff') AS idx,"
            " h3GetResolution(stringToH3('8928308280fffff')) AS res,"
            " h3GetBaseCell(stringToH3('8928308280fffff')) AS bc,"
            " h3IsValid(stringToH3('8928308280fffff')) AS valid,"
            " h3IsValid(42) AS invalid,"
            " h3ToString(h3ToParent(stringToH3('8928308280fffff'), 8)) AS parent,"
            " h3IsResClassIII(stringToH3('8928308280fffff')) AS c3,"
            " h3IsPentagon(stringToH3('8928308280fffff')) AS pent,"
            " h3NumHexagons(2) AS n2,"
            " h3ToCenterChild(stringToH3('8928308280fffff'), 10) AS cc,"
            " h3ToChildren(stringToH3('8928308280fffff'), 10) AS kids"
        )
    ).collect()[0]
    assert r.idx == 0x8928308280FFFFF
    assert r.res == 9 and r.bc == 20
    assert r.valid is True and r.invalid is False
    assert r.parent == "8828308281fffff"
    assert r.c3 is True and r.pent is False
    assert r.n2 == 2 + 120 * 49
    # children: 7 of them, center child among them, each parents back
    assert len(r.kids) == 7 and r.cc in r.kids and len(set(r.kids)) == 7
    back = spark.sql(
        transpile(
            "SELECT h3GetResolution({0}) AS cres,"
            " h3ToParent({0}, 9) AS cpar,"
            " transform(h3ToChildren(stringToH3('8928308280fffff'), 10),"
            "   __c -> h3ToParent(__c, 9)) AS pars".format(r.cc)
        )
    ).collect()[0]
    assert back.cres == 10 and back.cpar == r.idx
    assert all(p == r.idx for p in back.pars)


def test_kql_join_hints(spark):
    """Kusto join execution hints (round 8): hint.strategy=broadcast forces
    a BroadcastHashJoin on the Kusto-left side even below no-stats defaults;
    hint.strategy=shuffle / hint.shufflekey force a shuffled hash join;
    hint tokens compose with kind= in either order and never change rows."""
    from clickhouseocp_spark.kql import transpile_kql

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        base = (
            "datatable(k: long, v: string) [1, 'a', 2, 'b'] "
            "| join {h} kind=inner "
            "(datatable(rk: long, w: long) [1, 10, 2, 20, 3, 30]) "
            "on $left.k == $right.rk "
            "| project k, v, w | sort by k asc"
        )
        sql_b = transpile_kql(base.format(h="hint.strategy=broadcast"))
        assert "/*+ BROADCAST(__l) */" in sql_b
        dfb = spark.sql(sql_b)
        assert "BroadcastHashJoin" in dfb._jdf.queryExecution().executedPlan().toString()
        assert [tuple(r) for r in dfb.collect()] == [(1, "a", 10), (2, "b", 20)]
        sql_s = transpile_kql(base.format(h="hint.strategy=shuffle"))
        assert "/*+ SHUFFLE_HASH(__l, __r) */" in sql_s
        dfs = spark.sql(sql_s)
        assert "ShuffledHashJoin" in dfs._jdf.queryExecution().executedPlan().toString()
        assert [tuple(r) for r in dfs.collect()] == [(1, "a", 10), (2, "b", 20)]
        # hints before kind, shufflekey form, num_partitions ignored
        sql_k = transpile_kql(
            "datatable(k: long) [1] | join hint.shufflekey=k "
            "hint.num_partitions=8 kind=inner "
            "(datatable(rk: long) [1]) on $left.k == $right.rk"
        )
        assert "SHUFFLE_HASH" in sql_k
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_prql_loop_mechanics():
    """PRQL loop lowers to WITH RECURSIVE (anchor = pipeline-so-far, step =
    the loop body over the previous iteration) and rejects malformed forms."""
    import pytest as _pytest

    from clickhouseocp_spark.prql import PrqlError, transpile_prql

    s = transpile_prql(
        "from t\nselect {k}\nloop (derive k2 = k + 1 | filter k2 < 9 "
        "| select {k = k2})"
    )
    assert "WITH RECURSIVE __prql_loop" in s and "UNION ALL" in s
    with _pytest.raises(PrqlError):
        transpile_prql("from t\nloop derive x = 1")
    with _pytest.raises(PrqlError):
        transpile_prql("from t\nloop ()")


def test_kql_series_decompose_planted(spark):
    """series_decompose on a planted seasonal+trend signal: the additive
    reconstruction is exact (seasonal + trend + residual == x bitwise),
    per-phase means recover the seasonal shape, and a planted spike is the
    only anomaly flagged."""
    from clickhouseocp_spark.kql import transpile_kql

    r = spark.sql(
        transpile_kql(
            "datatable(k: string, v: dynamic) ['a', dynamic("
            "[10.0, 0.0, 5.0, 1.0, 11.0, 1.0, 6.0, 2.0,"
            " 12.0, 2.0, 7.0, 3.0, 13.0, 3.0, 8.0, 4.0])]"
            " | extend d = series_decompose(v, 4)"
            " | project seas = d.seasonal, tr = d.trend,"
            "   res = d.residual, base = d.baseline"
        )
    ).collect()[0]
    x = [10.0, 0.0, 5.0, 1.0, 11.0, 1.0, 6.0, 2.0,
         12.0, 2.0, 7.0, 3.0, 13.0, 3.0, 8.0, 4.0]
    # phase means 11.5/1.5/6.5/2.5 − overall 5.5 → zero-sum seasonal
    assert r.seas[:4] == [6.0, -4.0, 1.0, -3.0]
    assert all(s + t + e == xi for s, t, e, xi in zip(r.seas, r.tr, r.res, x))
    assert all(b == s + t for b, s, t in zip(r.base, r.seas, r.tr))
    # anomalies: same signal with one spiked element → exactly that flag
    spiked = x[:]
    spiked[9] = 60.0
    lit = ", ".join(str(v) for v in spiked)
    a = spark.sql(
        transpile_kql(
            f"datatable(k: string, v: dynamic) ['a', dynamic([{lit}])]"
            " | extend an = series_decompose_anomalies(v, 2.5, 4)"
            " | project flags = an.ad_flag, score = an.ad_score"
        )
    ).collect()[0]
    assert a.flags[9] == 1 and sum(abs(f) for f in a.flags) == 1
    assert a.score[9] > 2.5


def test_kql_series_outliers_values(spark):
    """series_outliers: planted spikes are the only nonzero scores, the k
    parameter shifts scores by (k − 1.5), a constant series scores all 0."""
    from clickhouseocp_spark.kql import transpile_kql

    r = spark.sql(
        transpile_kql(
            "datatable(k: string, v: dynamic) ['a', dynamic("
            "[1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 100.0, -50.0])]"
            " | extend o = series_outliers(v), o3 = series_outliers(v, 3.0),"
            "   flat = series_outliers(pack_array(5.0, 5.0, 5.0, 5.0))"
            " | project o, o3, flat"
        )
    ).collect()[0]
    assert all(x == 0.0 for x in r.o[:8])
    assert r.o[8] > 0 and r.o[9] < 0
    assert abs((r.o[8] - r.o3[8]) - 1.5) < 1e-12
    assert r.flat == [0.0, 0.0, 0.0, 0.0]


def test_kql_toscalar_materialize(spark):
    """toscalar: scalar-subquery lowering behind a placeholder (inner SQL
    never re-enters scalar rewrites — a substring inside survives single
    rewriting); materialize strips to its argument; string literals with
    pipes inside toscalar stay intact."""
    from clickhouseocp_spark.kql import transpile_kql

    sql = transpile_kql(
        "datatable(k: long, s: string) [1, 'abc', 2, 'a|b']"
        " | where k == toscalar(datatable(q: long, s2: string) [5, 'xyz']"
        "     | where s2 == 'x|yz' | count)"
        "   or strlen(substring(s, 1)) >= 1"
        " | summarize n = count()"
    )
    # the inner pipeline's count lowered once; outer substring rule fired
    # once (0-based +1), not twice
    assert "substr(s, (1) + 1)" in sql and sql.count("'x|yz'") == 1
    r = spark.sql(sql).collect()[0]
    assert r.n == 2
    m = transpile_kql(
        "let t = materialize(datatable(k: long) [1, 2] | where k > 1); t | count"
    )
    assert "materialize" not in m.lower()


def test_round8_literal_masking_hardening(spark):
    """Wrapper/parameter names inside string literals never trigger
    rewrites: toscalar(/materialize( in a literal stay text; mapApply
    lambda parameter names quoted in the body stay literal."""
    from clickhouseocp_spark.chsql import transpile
    from clickhouseocp_spark.kql import transpile_kql

    s = transpile_kql(
        "datatable(s: string) ['use toscalar(x) here']"
        " | where s != 'materialize(y)' | count"
    )
    assert "toscalar(x)" in s and "materialize(y)" in s
    assert spark.sql(s).collect()[0][0] == 1
    r = spark.sql(
        transpile(
            "SELECT mapKeys(mapApply((k, v) -> (concat(k, 'k'), v),"
            " map('a', 1))) AS ks"
        )
    ).collect()[0]
    assert r.ks == ["ak"]


def test_kql_series_fir_iir_values(spark):
    """FIR: causal zero-padded normalized average, raw (normalize=false),
    centered alignment; IIR: the EMA recursion — value-pinned."""
    from clickhouseocp_spark.kql import transpile_kql

    r = spark.sql(
        transpile_kql(
            "datatable(k: string, v: dynamic)"
            " ['a', dynamic([1.0, 2.0, 3.0, 4.0, 5.0])]"
            " | extend ma = series_fir(v, dynamic([1, 1, 1])),"
            "   raw = series_fir(v, dynamic([1, 1]), false),"
            "   ctr = series_fir(v, dynamic([1, 1, 1]), true, true),"
            "   ema = series_iir(v, dynamic([0.5]), dynamic([1, -0.5]))"
            " | project ma, raw, ctr, ema"
        )
    ).collect()[0]
    assert [round(x, 4) for x in r.ma] == [0.3333, 1.0, 2.0, 3.0, 4.0]
    assert r.raw == [1.0, 3.0, 5.0, 7.0, 9.0]
    assert [round(x, 4) for x in r.ctr] == [1.0, 2.0, 3.0, 4.0, 3.0]
    assert r.ema == [0.5, 1.25, 2.125, 3.0625, 4.03125]


def test_array_fill_split_family(spark):
    """arrayFill/arrayReverseFill (conditional carries, first/last element
    stays), arraySplit/arrayReverseSplit (cut before/after predicate hits,
    no empty edge groups), OrNull element access — value-pinned, incl. the
    single-arg parenthesized lambda form CH accepts."""
    from clickhouseocp_spark.chsql import transpile

    r = spark.sql(
        transpile(
            "SELECT arrayFill(x -> x > 0, [1, 0, 0, 5, 0]) AS f,"
            " arrayReverseFill(x -> x > 0, [0, 0, 3, 0, 7, 0]) AS rf,"
            " arraySplit((x) -> x = 0, [1, 2, 0, 3, 0, 4]) AS sp,"
            " arraySplit(x -> x > 0, [1, 2, 3]) AS sp_lead,"
            " arrayReverseSplit(x -> x = 0, [1, 2, 0, 3]) AS rsp,"
            " arrayElementOrNull([10, 20], 5) AS oob,"
            " arrayElementOrNull([10, 20], -1) AS neg,"
            " arrayFirstOrNull(x -> x > 100, [1, 2]) AS nfirst,"
            " arrayLastOrNull(x -> x < 100, [1, 2]) AS nlast"
        )
    ).collect()[0]
    assert r.f == [1, 1, 1, 5, 5]
    assert r.rf == [3, 3, 3, 7, 7, 0]
    assert r.sp == [[1, 2], [0, 3], [0, 4]]
    assert r.sp_lead == [[1], [2], [3]]
    assert r.rsp == [[1, 2, 0], [3]]
    assert r.oob is None and r.neg == 20
    assert r.nfirst is None and r.nlast == 2


def test_kql_make_bag_mechanics(spark):
    """make_bag unions the group's bags; duplicate keys keep the first
    seen (entry fold)."""
    from clickhouseocp_spark.kql import transpile_kql

    r = spark.sql(
        transpile_kql(
            "datatable(g: long, k: string, v: long)"
            " [1, 'a', 10, 1, 'b', 20, 2, 'c', 30]"
            " | extend bag = bag_pack(k, v)"
            " | summarize merged = make_bag(bag) by g | sort by g asc"
        )
    ).collect()
    assert [(row.g, dict(row.merged)) for row in r] == [
        (1, {"a": 10, "b": 20}),
        (2, {"c": 30}),
    ]


def test_kql_engine_ops_chain(spark):
    """Schema-aware KQL stages chain: a getschema/search after evaluate
    narrow/bag_unpack reads the widened relation's schema."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    rows = eng.sql(
        "datatable(rid: long, s: string) [1, 'x'] | evaluate narrow() "
        "| getschema",
        dialect="kusto",
    ).collect()
    assert [r.ColumnName for r in rows] == ["Row", "Column", "Value"]
    n = eng.sql(
        "datatable(rid: long, tag: string) [1, 'alpha', 2, 'beta']"
        " | extend b = bag_pack('k', tag) | project rid, b"
        " | evaluate bag_unpack(b) | search 'alph'",
        dialect="kusto",
    ).count()
    assert n == 1


#: statements whose schema-aware stage sits after another one, or whose
#: later stages use a `let`; expected rows from (views, events) = the
#: number of `view` events and of all events
_STAGE_WALK_CASES = [
    pytest.param(
        "events | extend b = bag_pack('t', event_type)"
        " | project event_id, event_type, b | search 'view'"
        " | evaluate bag_unpack(b) | summarize n = countif(t == 'view')",
        lambda views, events: [(views,)],
        id="search-then-bag_unpack",
    ),
    pytest.param(
        "events | project event_id, event_type | search 'view'"
        " | evaluate narrow() | count",
        lambda views, events: [(2 * views,)],
        id="search-then-narrow",
    ),
    pytest.param(
        "events | project event_id, event_type | evaluate narrow()"
        " | evaluate pivot(Column, count())"
        " | summarize i = sum(event_id), t = sum(event_type)",
        lambda views, events: [(events, events)],
        id="narrow-then-pivot",
    ),
    pytest.param(
        "events | getschema | where ColumnType == 'long' | project ColumnName",
        lambda views, events: [("event_id",), ("user_id",)],
        id="getschema-then-where",
    ),
    pytest.param(
        "events | getschema | count",
        lambda views, events: [(6,)],
        id="getschema-then-count",
    ),
    pytest.param(
        "let k = 'view'; events | project event_id, event_type"
        " | evaluate narrow() | where Value == k | count",
        lambda views, events: [(views,)],
        id="let-after-narrow",
    ),
    pytest.param(
        "let lim = 5; events | search 'view' | take lim"
        " | summarize n = count(), v = countif(event_type == 'view')",
        lambda views, events: [(5, 5)],
        id="let-after-search",
    ),
]


@pytest.mark.parametrize("query, expected", _STAGE_WALK_CASES)
def test_kql_stage_walk(spark, sf_dir, query, expected):
    """Schema-aware stages chain in any order, `getschema` may have
    stages after it, and every stage sees the statement's `let`s."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    events = eng._table("events")
    views = events.filter(F.col("event_type") == "view").count()
    got = [tuple(r) for r in eng.sql(query, dialect="kusto").collect()]
    assert got == expected(views, events.count())


def test_kql_stage_views_are_per_statement(spark, sf_dir):
    """Two threads running different `| search | summarize` statements on
    one engine each get their own count, and no intermediate view is left
    in the session catalog."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    queries = [
        "events | project event_id, event_type | search 'view'"
        " | summarize n = count()",
        "nation | project n_name | search 'A' | summarize n = count()",
    ]

    def run(q: str) -> int:
        return eng.sql(q, dialect="kusto").first()[0]

    single = [run(q) for q in queries]
    assert single[0] != single[1]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(2) as pool:
            futures = [pool.submit(lambda q=q: [run(q) for _ in range(25)])
                       for q in queries]
            got = [f.result(timeout=600) for f in futures]
    finally:
        sys.setswitchinterval(switch)
    assert got == [[single[0]] * 25, [single[1]] * 25]
    leaked = [t.name for t in spark.catalog.listTables()
              if t.name.startswith("__kql")]
    assert leaked == []


@pytest.mark.parametrize(
    "query",
    [
        "events | search 'view' | count",
        "documents | project lang, source | evaluate basket(0.1)",
        "events | project event_type | evaluate pivot(event_type, count())",
        "datatable(rid: long, s: string) [1, 'x'] | evaluate narrow()"
        " | getschema",
    ],
)
def test_kql_stage_statement_logs_one_row(spark, sf_dir, query):
    """A KQL statement with a schema-aware stage is one `system.query_log`
    row carrying the user's text."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    eng.sql(query, dialect="kusto").collect()
    assert [(r[3], r[6]) for r in eng._query_log] == [(query, "QueryFinish")]


def test_round8_series_edges(spark):
    """Edge behavior of the round-8 series tier: decompose with a period
    longer than the series (every phase = its own mean → residual 0 after
    trend), FIR filter longer than the input, outliers on a 2-element
    series, fills on an all-null series."""
    from clickhouseocp_spark.kql import transpile_kql

    r = spark.sql(
        transpile_kql(
            "datatable(k: string, v: dynamic) ['a', dynamic([5.0, 9.0])]"
            " | extend d = series_decompose(v, 4),"
            "   f = series_fir(v, dynamic([1, 1, 1, 1, 1])),"
            "   o = series_outliers(v)"
            " | project res = d.residual, f, o"
        )
    ).collect()[0]
    assert all(abs(x) < 1e-9 for x in r.res)
    assert len(r.f) == 2 and r.o == [0.0, 0.0]
    n = spark.sql(
        transpile_kql(
            "datatable(k: string, v: dynamic)"
            " ['a', dynamic([real(null), real(null)])]"
            " | extend f = series_fill_forward(v), b = series_fill_backward(v),"
            "   lin = series_fill_linear(v)"
            " | project f, b, lin"
        )
    ).collect()[0]
    assert n.f == [None, None] and n.b == [None, None]
    assert n.lin == [None, None]


def test_h3_children_two_levels(spark):
    """h3ToChildren across a 2-resolution jump: 49 children, all distinct,
    every one parents back to the original at both intermediate levels."""
    from clickhouseocp_spark.chsql import transpile

    r = spark.sql(
        transpile(
            "SELECT h3ToChildren(stringToH3('8928308280fffff'), 11) AS kids,"
            " stringToH3('8928308280fffff') AS idx"
        )
    ).collect()[0]
    assert len(r.kids) == 49 and len(set(r.kids)) == 49
    back = spark.sql(
        transpile(
            "SELECT transform({0}, __c -> h3ToParent(__c, 9)) AS p9,"
            " transform({0}, __c -> h3GetResolution(__c)) AS res".format(
                "array(" + ", ".join(str(k) for k in r.kids) + ")"
            )
        )
    ).collect()[0]
    assert all(p == r.idx for p in back.p9)
    assert all(x == 11 for x in back.res)


def test_ttl_insert_interplay(spark, sf_dir):
    """Rows inserted AFTER the TTL is stored still expire at the next
    OPTIMIZE (the TTL belongs to the table, not the creating statement)."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    eng.sql(
        "CREATE TABLE ttl_i ENGINE = MergeTree ORDER BY event_id "
        "TTL if(event_type = 'late', ts, ts + INTERVAL 100 YEAR) "
        "AS SELECT event_id, event_type, ts FROM events LIMIT 5",
        dialect="ch",
    )
    eng.sql(
        "INSERT INTO ttl_i SELECT event_id + 1000000, 'late', ts "
        "FROM events LIMIT 3",
        dialect="ch",
    )
    eng.sql("OPTIMIZE TABLE ttl_i FINAL", dialect="ch")
    rows = eng.sql(
        "SELECT count() AS n, countIf(event_type = 'late') AS late "
        "FROM ttl_i",
        dialect="ch",
    ).collect()[0]
    assert rows.n == 5 and rows.late == 0


def test_kql_join_hint_on_semi_anti(spark):
    """Join hints compose with semi/anti kinds and never change rows —
    Spark ignores an illegal build-side broadcast rather than erroring,
    which is the contract hints promise."""
    from clickhouseocp_spark.kql import transpile_kql

    base = (
        "datatable(k: long) [1, 2, 3] "
        "| join {h} kind=leftanti "
        "(datatable(rk: long) [2]) on $left.k == $right.rk "
        "| sort by k asc"
    )
    for h in ("hint.strategy=broadcast", "hint.strategy=shuffle"):
        got = [r.k for r in spark.sql(transpile_kql(base.format(h=h))).collect()]
        assert got == [1, 3], h


def test_kql_scan_concurrent_mechanics(spark):
    """scan kind=concurrent (round 9) — the Kusto-faithful machine set:
    one active sequence per step, promotion replaces the target slot,
    absorption accumulates within a step (the running-total idiom),
    sequences never retire, match_id is unique per sequence, and
    step output=none advances state silently."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    rows = eng.sql(
        """
let t = datatable(k: string, i: long, et: string, v: long)
  ['u', 1, 'signup', 10,
   'u', 2, 'click', 5,
   'u', 3, 'signup', 20,
   'u', 4, 'click', 7,
   'u', 5, 'purchase', 9];
t
| partition by k (
    sort by i asc
    | scan kind=concurrent with_match_id=m declare (cnt: long = 0) with (
        step start: et == 'signup';
        step act: et == 'click' or et == 'purchase' => cnt = cnt + 1))
| project i, m, cnt
""",
        dialect="kusto",
    ).orderBy("i").collect()
    # signup@3 starts sequence 1 while sequence 0 sits at step 2; click@4
    # promotes it, REPLACING sequence 0 (at most one sequence per step);
    # purchase@5 is absorbed into the step-2 sequence (cnt accumulates)
    assert [(r.i, r.m, r.cnt) for r in rows] == [
        (1, 0, 0), (2, 0, 1), (3, 1, 0), (4, 1, 1), (5, 1, 2)
    ]
    # single-step running total: every record absorbs into ONE sequence
    tot = eng.sql(
        """
let t = datatable(k: string, i: long, v: long)
  ['u', 1, 10, 'u', 2, 5, 'u', 3, 7];
t
| partition by k (
    sort by i asc
    | scan kind=concurrent with_match_id=m declare (total: long = 0) with (
        step s: true => total = total + v))
| project i, m, total
""",
        dialect="kusto",
    ).orderBy("i").collect()
    assert [(r.i, r.m, r.total) for r in tot] == [(1, 0, 10), (2, 0, 15), (3, 0, 22)]
    # output=none: the start step advances state but emits nothing
    quiet = eng.sql(
        """
let t = datatable(k: string, i: long, et: string)
  ['u', 1, 'signup', 'u', 2, 'click', 'u', 3, 'click'];
t
| partition by k (
    sort by i asc
    | scan kind=concurrent with_match_id=m with (
        step start output=none: et == 'signup';
        step act: et == 'click'))
| project i, m
""",
        dialect="kusto",
    ).orderBy("i").collect()
    assert [(r.i, r.m) for r in quiet] == [(2, 0), (3, 0)]
    # greedy machine honors output=none too
    g = eng.sql(
        """
let t = datatable(k: string, i: long, et: string)
  ['u', 1, 'signup', 'u', 2, 'click'];
t
| partition by k (
    sort by i asc
    | scan with_match_id=m with (
        step start output=none: et == 'signup';
        step act: et == 'click'))
| project i, m
""",
        dialect="kusto",
    ).collect()
    assert [(r.i, r.m) for r in g] == [(2, 0)]


def test_kql_parse_kv_mechanics(spark):
    """parse-kv: custom delimiters (regex metacharacters escaped), typed
    casts, missing keys NULL, and the clear-error contract."""
    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.kql import KqlError

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
let t = datatable(s: string)
  ['a:1|b:2.5|c:x'];
t
| parse-kv s as (a: long, b: real, c: string, d: long)
    with (pair_delimiter='|', kv_delimiter=':')
| project a, b, c, d
""",
        dialect="kusto",
    ).collect()[0]
    assert (r.a, r.b, r.c, r.d) == (1, 2.5, "x", None)
    import pytest as _pytest

    with _pytest.raises(KqlError):
        eng.sql(
            "events | parse-kv props as (k: blob)", dialect="kusto"
        )


def test_kql_series_seasonal(spark):
    """series_seasonal: the seasonal component alone — zero-sum per-phase
    means on a planted period-2 signal."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
let t = datatable(k: string) ['a'];
t
| extend s = series_seasonal(dynamic([1, 3, 1, 3, 1, 3]), 2)
| project out = strcat_array(s, ',')
""",
        dialect="kusto",
    ).collect()[0]
    assert r.out in ("-1.0,1.0,-1.0,1.0,-1.0,1.0", "-1,1,-1,1,-1,1")


def test_kql_series_decompose_forecast(spark):
    """series_decompose_forecast: on a pure period-2 signal with zero
    trend, the forecast horizon repeats the seasonal pattern around the
    mean exactly."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
let t = datatable(k: string) ['a'];
t
| extend f = series_decompose_forecast(dynamic([1, 3, 1, 3, 1, 3]), 4, 2)
| project n = array_length(f),
          out = strcat_array(transform(f, __x -> round(__x, 6)), ',')
""",
        dialect="kusto",
    ).collect()[0]
    assert r.n == 10
    vals = [float(x) for x in r.out.split(",")]
    assert all(abs(v - e) < 1e-9 for v, e in zip(vals, [1.0, 3.0] * 5))


def test_kql_rows_near(spark):
    """evaluate rows_near: rows within the distance envelope of a match in
    serialized order; asymmetric before/after honored."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    rows = eng.sql(
        """
let t = datatable(i: long, et: string)
  [1, 'a', 2, 'a', 3, 'err', 4, 'a', 5, 'a', 6, 'a', 7, 'a'];
t
| sort by i asc
| evaluate rows_near(et == 'err', 1, 2)
| project i
""",
        dialect="kusto",
    ).collect()
    # match at i=3: keep 1 before (i=2), the match, 2 after (i=4, 5)
    assert sorted(r.i for r in rows) == [2, 3, 4, 5]


def test_kql_has_any_all(spark):
    """has_any / has_all: whole-term membership over literal term lists."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    rows = eng.sql(
        """
let t = datatable(i: long, s: string)
  [1, 'alpha beta gamma', 2, 'alpha only', 3, 'delta'];
t
| extend a = s has_any ('beta', 'delta'),
         b = s has_all ('alpha', 'beta'),
         c = s has_any ('alphabet')
| project i, a, b, c
""",
        dialect="kusto",
    ).orderBy("i").collect()
    assert [(r.i, r.a, r.b, r.c) for r in rows] == [
        (1, True, True, False),   # whole terms, not substrings
        (2, False, False, False),
        (3, True, False, False),
    ]


def test_kql_percentiles_array(spark):
    """percentiles_array: the multi-quantile form of percentile — Spark's
    array percentile, comma-joinable for driver-safe output."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
let t = datatable(v: long) [1, 2, 3, 4, 5];
t
| summarize p = percentiles_array(v, 25, 50, 75)
| project out = strcat_array(p, ',')
""",
        dialect="kusto",
    ).collect()[0]
    assert r.out in ("2.0,3.0,4.0", "2,3,4")


def test_kql_series_vector_and_array_vocab(spark):
    """Round-9 series vector math + array vocabulary: dot/magnitude/cosine,
    floor/ceiling, array_sum/avg, rotate/shift, jaccard_index, zip,
    take_anyif — value-pinned on literals."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
let t = datatable(k: long) [1];
t
| extend d = series_dot_product(dynamic([1, 2, 3]), dynamic([4, 5, 6])),
         m = series_magnitude(dynamic([3, 4])),
         c = round(series_cosine_similarity(dynamic([1, 0]), dynamic([1, 0])), 6),
         cz = series_cosine_similarity(dynamic([0, 0]), dynamic([1, 0])),
         fl = strcat_array(series_floor(dynamic([1.7, -1.2])), ','),
         ce = strcat_array(series_ceiling(dynamic([1.2, -1.7])), ','),
         s = array_sum(dynamic([1, 2, 3.5])),
         av = array_avg(dynamic([2, 4])),
         rl = strcat_array(array_rotate_left(dynamic([1, 2, 3, 4]), 1), ','),
         sl = strcat_array(array_shift_left(dynamic([1, 2, 3]), 1, 0), ','),
         j = jaccard_index(dynamic([1, 2, 3]), dynamic([2, 3, 4])),
         zp = zip(dynamic([1, 2]), dynamic([3, 4]))
| extend z0 = strcat_array(zp[0], ':'), z1 = strcat_array(zp[1], ':')
| project d, m, c, cz, fl, ce, s, av, rl, sl, j, z0, z1
""",
        dialect="kusto",
    ).collect()[0]
    assert r.d == 32.0 and r.m == 5.0
    assert r.c == 1.0 and r.cz == 0.0
    assert r.fl.startswith("1") and r.ce.startswith("2")
    assert r.s == 6.5 and r.av == 3.0
    assert r.rl in ("2,3,4,1", "2.0,3.0,4.0,1.0")
    assert r.sl in ("2,3,0", "2.0,3.0,0.0")
    assert abs(r.j - 0.5) < 1e-12
    assert r.z0 in ("1:3", "1.0:3.0") and r.z1 in ("2:4", "2.0:4.0")
    agg = eng.sql(
        """
let t = datatable(v: long, f: bool) [5, false, 7, true, 9, true];
t | summarize a = take_anyif(v, f == true)
""",
        dialect="kusto",
    ).collect()[0]
    assert agg.a in (7, 9)


def test_kql_graph_match_mechanics(spark):
    """make-graph + graph-match: 2-hop path, cycle via repeated node var,
    where-less form, and the subset errors (variable-length edges,
    graph-match without make-graph)."""
    import pytest as _pytest

    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.kql import KqlError, transpile_kql

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    rows = eng.sql(
        """
let edges = datatable(s: long, d: long, w: long)
  [1, 2, 5, 2, 3, 7, 3, 1, 2, 1, 3, 9];
let nodes = datatable(id: long, name: string)
  [1, 'alpha', 2, 'beta', 3, 'gamma'];
edges
| make-graph s --> d with nodes on id
| graph-match (a)-[e1]->(b)-[e2]->(c)
  where a.name == 'alpha' and e2.w > 2
  project an = a.name, bn = b.name, cn = c.name, w2 = e2.w
""",
        dialect="kusto",
    ).collect()
    assert [(r.an, r.bn, r.cn, r.w2) for r in rows] == [
        ("alpha", "beta", "gamma", 7)
    ]
    # cycle: repeated node variable constrains instead of re-joining
    cyc = eng.sql(
        """
let edges = datatable(s: long, d: long) [1, 2, 2, 1, 2, 3];
let nodes = datatable(id: long, nm: string) [1, 'x', 2, 'y', 3, 'z'];
edges
| make-graph s --> d with nodes on id
| graph-match (a)-[e1]->(b)-[e2]->(a)
  project an = a.nm, bn = b.nm
""",
        dialect="kusto",
    ).collect()
    assert sorted((r.an, r.bn) for r in cyc) == [("x", "y"), ("y", "x")]
    with _pytest.raises(KqlError, match="variable-length"):
        transpile_kql(
            "t | make-graph s --> d with n on id "
            "| graph-match (a)-[e*1..3]->(b) project x = a.id"
        )
    with _pytest.raises(KqlError, match="preceding make-graph"):
        transpile_kql("t | graph-match (a)-[e]->(b) project x = a.id")


def test_window_funnel_text_mechanics(spark):
    """Text-path windowFunnel: window cutoff honored (chain outside W does
    not level up), greedy-latest chain start rescues a late chain, and the
    mode subset raises toward the DataFrame tier."""
    import pytest as _pytest

    from clickhouseocp_spark.chsql import ChSqlError
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    rows = eng.sql(
        """
SELECT k, toInt64(windowFunnel(10.0)(t, s = 1, s = 2, s = 3)) AS lvl
FROM (
  SELECT 1 AS k, toFloat64(0) AS t, 1 AS s
  UNION ALL SELECT 1, toFloat64(9), 2 UNION ALL SELECT 1, toFloat64(12), 3
  -- late restart: second chain start at t=5 makes level 3 reachable
  UNION ALL SELECT 2, toFloat64(0), 1 UNION ALL SELECT 2, toFloat64(5), 1
  UNION ALL SELECT 2, toFloat64(9), 2 UNION ALL SELECT 2, toFloat64(14), 3
  -- no chain: step 2 precedes step 1
  UNION ALL SELECT 3, toFloat64(0), 2 UNION ALL SELECT 3, toFloat64(1), 1
) GROUP BY k ORDER BY k
""",
        dialect="clickhouse",
    ).collect()
    # k=1: 0->9 ok (lvl2), 12-0 > 10 -> lvl stays 2
    # k=2: chain restarts at 5; 9-5<=10 lvl2, 14-5<=10 lvl3
    # k=3: only step1 seen in order -> lvl1
    assert [(r.k, r.lvl) for r in rows] == [(1, 2), (2, 3), (3, 1)]
    with _pytest.raises(ChSqlError, match="strict_order"):
        eng.sql(
            "SELECT windowFunnel(10, 'strict_order')(ts, event_type = 'a') "
            "FROM events",
            dialect="clickhouse",
        )


def test_kql_graph_to_table_and_components(spark):
    """graph-to-table emits the node/edge relations; mark-components
    handles self-loops and singletons; errors without make-graph."""
    import pytest as _pytest

    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.kql import KqlError, transpile_kql

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    base = """
let edges = datatable(s: long, d: long) [1,2, 2,3, 5,6, 8,8];
let nodes = datatable(id: long, nm: string)
  [1,'a', 2,'b', 3,'c', 5,'e', 6,'f', 8,'h', 9,'i'];
edges
| make-graph s --> d with nodes on id
"""
    comp = eng.sql(
        base + "| graph-mark-components iterations=4 with_component_id=c"
        "\n| project id, c | sort by id asc",
        dialect="kusto",
    ).collect()
    assert [(r.id, r.c) for r in comp] == [
        (1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (8, 8), (9, 9)
    ]
    nodes = eng.sql(
        base + "| graph-to-table nodes | count", dialect="kusto"
    ).collect()
    assert nodes[0].Count == 7
    edges = eng.sql(
        base + "| graph-to-table edges | count", dialect="kusto"
    ).collect()
    assert edges[0].Count == 4
    with _pytest.raises(KqlError, match="preceding make-graph"):
        transpile_kql("t | graph-mark-components with_component_id=c")


def test_advice_r10_fixes(spark):
    """Round-11 advice batch: parse_urlquery duplicate keys + embedded '=',
    row_rank_* leading-NULL term, schema-aware find surfacing type errors,
    evaluate pivot over datetime distinct values, make_timespan(h, m) and
    the literal-coercion KqlError/ChSqlError contracts."""
    import pytest as _pytest

    from clickhouseocp_spark.chsql import ChSqlError, transpile
    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.kql import KqlError

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)

    # parse_urlquery: repeated key keeps the FIRST occurrence (Kusto
    # tolerates duplicates; Spark's mapKeyDedupPolicy=EXCEPTION would
    # crash), values keep embedded '=', valueless key → ''
    r = eng.sql(
        "print m = parse_urlquery('?a=1&a=2&redirect=u=v&empty')",
        dialect="kusto",
    ).collect()[0]
    assert dict(r.m) == {"a": "1", "redirect": "u=v", "empty": ""}

    # row_rank_dense / row_rank_min: a leading NULL run is rank 1 (the
    # first serialized row is unconditionally a change; bare term <=>
    # lag(term) made it NULL<=>NULL = no-change and shifted all ranks)
    q = """
let t = datatable(k: long) [1, 2, 3, 4, 5];
t
| extend term = case(k <= 2, string(null), k == 5, 'y', 'x')
| sort by k asc
| extend r = row_rank_{kind}(term)
| project k, r
| sort by k asc
"""
    dense = eng.sql(q.format(kind="dense"), dialect="kusto").collect()
    assert [(x.k, x.r) for x in dense] == [(1, 1), (2, 1), (3, 2), (4, 2), (5, 3)]
    rmin = eng.sql(q.format(kind="min"), dialect="kusto").collect()
    assert [(x.k, x.r) for x in rmin] == [(1, 1), (2, 1), (3, 3), (4, 3), (5, 5)]

    # schema-aware find: a TYPE error on a table that HAS the columns
    # surfaces (Kusto only skips tables whose schema cannot bind)...
    from pyspark.errors import AnalysisException

    with _pytest.raises(AnalysisException, match="DATATYPE_MISMATCH"):
        eng.sql(
            "find in (events) where bit_count(event_type) > 2",
            dialect="kusto",
        )
    # ...while a predicate referencing a column a table lacks still skips
    # that table quietly
    assert (
        eng.sql(
            "find in (events, nation) where event_id < 5", dialect="kusto"
        ).count()
        == 5
    )

    # 2-arg evaluate pivot over datetime distinct values: quoted literal
    # re-injection (bare str(v) was invalid SQL)
    p = eng.sql(
        """
let t = datatable(k: long, d: datetime)
  [1, datetime(2024-01-01), 2, datetime(2024-01-01), 3, datetime(2024-02-01)];
t
| evaluate pivot(d, count())
""",
        dialect="kusto",
    )
    assert sorted(p.columns) == [
        "2024-01-01 00:00:00", "2024-02-01 00:00:00", "k",
    ]
    assert p.count() == 3

    # make_timespan: the documented 2-arg (hour, minute) Kusto overload
    r = eng.sql("print s = make_timespan(1, 30)", dialect="kusto").collect()[0]
    assert r.s == 5400.0
    with _pytest.raises(KqlError, match="make_timespan"):
        eng.sql("print s = make_timespan(1)", dialect="kusto")

    # literal-coercion contract: KqlError / ChSqlError, not raw ValueError
    with _pytest.raises(KqlError, match="integer LITERAL"):
        eng.sql(
            "events | project g = geo_point_to_geohash(value, value, event_id)",
            dialect="kusto",
        )
    with _pytest.raises(ChSqlError, match="integer literal"):
        transpile(
            "SELECT geohashEncode(1.0, 2.0, event_id) FROM events"
        )


def test_kolmogorov_smirnov_mechanics(spark):
    """kolmogorovSmirnovTest (round 11): D/p against an independent
    bisect-based Python replay on a planted shifted sample, tie handling
    (evaluation only at tie-run boundaries), λ < 0.2 → p = 1, and the
    parameter-subset error contract."""
    import bisect
    import math

    import pytest as _pytest

    from clickhouseocp_spark.chsql import ChSqlError, transpile
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)

    # planted: arm 0 = 0..19, arm 1 = 10..29 (shift 10) with ties inside
    # each arm (x % 7 collapses values) — exercises the tie convention
    vals = [(float(k % 7), 0) for k in range(20)] + [
        (float(k % 7) + 2.0, 1) for k in range(20)
    ]
    rows = ", ".join(f"({v}, {i})" for v, i in vals)
    r = eng.sql(
        f"""
SELECT tupleElement(kolmogorovSmirnovTest(x, i), 1) AS d,
       tupleElement(kolmogorovSmirnovTest(x, i), 2) AS p
FROM (SELECT col1 AS x, col2 AS i FROM VALUES {rows})
""",
        dialect="clickhouse",
    ).collect()[0]

    x0 = sorted(v for v, i in vals if i == 0)
    x1 = sorted(v for v, i in vals if i == 1)
    xs = sorted({v for v, _ in vals})
    d_ref = max(
        abs(
            bisect.bisect_right(x0, x) / len(x0)
            - bisect.bisect_right(x1, x) / len(x1)
        )
        for x in xs
    )
    ne = len(x0) * len(x1) / (len(x0) + len(x1))
    lam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * d_ref
    p_ref = 2 * sum(
        (1 if k % 2 == 1 else -1) * math.exp(-2 * k * k * lam * lam)
        for k in range(1, 51)
    )
    assert r.d == round(d_ref, 6)
    assert r.p == round(min(max(p_ref, 0.0), 1.0), 6)

    # identical samples → D = 0 → λ < 0.2 → p = 1 exactly
    r0 = eng.sql(
        """
SELECT tupleElement(kolmogorovSmirnovTest(x, i), 1) AS d,
       tupleElement(kolmogorovSmirnovTest(x, i), 2) AS p
FROM (SELECT CAST(col1 AS DOUBLE) AS x, col2 AS i
      FROM VALUES (1, 0), (2, 0), (3, 0), (1, 1), (2, 1), (3, 1))
""",
        dialect="clickhouse",
    ).collect()[0]
    assert (r0.d, r0.p) == (0.0, 1.0)

    with _pytest.raises(ChSqlError, match="two-sided"):
        transpile(
            "SELECT kolmogorovSmirnovTest('greater', 'auto')(value, i) FROM t"
        )
    with _pytest.raises(ChSqlError, match="exactly"):
        transpile("SELECT kolmogorovSmirnovTest(value) FROM t")


def test_url_table_function(spark):
    """url('file://...', Format) — the url()/file() shared direct-read
    lowering (Hadoop-compatible URL; the HTTP hop itself is the server
    tier's wire tests)."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    rows = eng.sql(
        "SELECT count(*) AS n FROM url("
        "'file:///root/testdata/sf0.001/region.parquet', 'Parquet')",
        dialect="clickhouse",
    ).collect()
    assert rows[0].n == 5


def test_rank_stats_vocabulary(spark):
    """mannWhitneyUTest / rankCorr / meanZTest (round 11): values pinned
    against an independent Python replay (average-rank walk, tie term,
    A&S Φ tail) on the fixture, plus the parameter-subset contracts."""
    import bisect
    import math

    import duckdb
    import pytest as _pytest

    from clickhouseocp_spark.chsql import ChSqlError, transpile
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
SELECT tupleElement(mannWhitneyUTest(value, event_id % 2), 1) AS u,
       tupleElement(mannWhitneyUTest(value, event_id % 2), 2) AS p,
       tupleElement(mannWhitneyUTest('two-sided', 0)(value, event_id % 2), 2) AS p0,
       rankCorr(value, toFloat64(user_id)) AS rc,
       tupleElement(meanZTest(2500.0, 2500.0, 0.95)(value, event_id % 2), 1) AS z,
       tupleElement(meanZTest(2500.0, 2500.0, 0.95)(value, event_id % 2), 2) AS zp
FROM events WHERE event_id < 300
""",
        dialect="clickhouse",
    ).collect()[0]

    rows = duckdb.sql(
        "SELECT value, event_id % 2 AS i, user_id FROM read_parquet("
        "'/root/testdata/sf0.001/events.parquet') WHERE event_id < 300"
    ).fetchall()

    def phi_tail(z):
        t = 1 / (1 + 0.2316419 * z)
        poly = t * (0.319381530 + t * (-0.356563782 + t * (1.781477937
                    + t * (-1.821255978 + t * 1.330274429))))
        return math.exp(-z * z / 2) / math.sqrt(2 * math.pi) * poly

    vals = sorted((v, i) for v, i, _ in rows)
    n = len(vals)
    n0 = sum(1 for _, i in vals if i == 0)
    n1 = n - n0
    r1 = tt = 0.0
    j = 0
    while j < n:
        k = j
        while k + 1 < n and vals[k + 1][0] == vals[j][0]:
            k += 1
        t = k - j + 1
        r1 += (j + k + 2) / 2 * sum(
            1 for q in range(j, k + 1) if vals[q][1] == 0
        )
        tt += t ** 3 - t
        j = k + 1
    u1 = r1 - n0 * (n0 + 1) / 2
    sig = math.sqrt(n0 * n1 / 12 * ((n + 1) - tt / (n * (n - 1))))
    for cc, got in ((0.5, r.p), (0.0, r.p0)):
        z = (abs(u1 - n0 * n1 / 2) - cc) / sig
        assert got == round(min(1.0, 2 * phi_tail(max(z, 0.0))), 6)
    assert r.u == round(u1, 6)

    xs = [v for v, _, _ in rows]
    ys = [float(u) for _, _, u in rows]

    def ranks(a):
        return [
            sum(1 for o in a if o < e) + (sum(1 for o in a if o == e) + 1) / 2
            for e in a
        ]

    rx, ry = ranks(xs), ranks(ys)
    mx, my = sum(rx) / len(rx), sum(ry) / len(ry)
    rho = sum((u - mx) * (v - my) for u, v in zip(rx, ry)) / math.sqrt(
        sum((u - mx) ** 2 for u in rx) * sum((v - my) ** 2 for v in ry)
    )
    assert r.rc == round(rho, 6)

    x0 = [v for v, i, _ in rows if i == 0]
    x1 = [v for v, i, _ in rows if i == 1]
    d = sum(x0) / len(x0) - sum(x1) / len(x1)
    se = math.sqrt(2500 / len(x0) + 2500 / len(x1))
    assert r.z == round(d / se, 6)
    assert r.zp == round(min(1.0, 2 * phi_tail(abs(d / se))), 6)

    with _pytest.raises(ChSqlError, match="two-sided"):
        transpile("SELECT mannWhitneyUTest('greater')(v, i) FROM t")
    with _pytest.raises(ChSqlError, match="0.95"):
        transpile("SELECT meanZTest(1.0, 1.0, 0.99)(v, i) FROM t")
    with _pytest.raises(ChSqlError, match="exactly"):
        transpile("SELECT rankCorr(v) FROM t")


def test_contingency_family(spark):
    """cramersV / cramersVBiasCorrected / theilsU / contingency (round 11):
    pinned against an independent Counter-based Python replay."""
    import math
    from collections import Counter

    import duckdb
    import pytest as _pytest

    from clickhouseocp_spark.chsql import ChSqlError, transpile
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
SELECT cramersV(event_type, user_id % 5) AS cv,
       cramersVBiasCorrected(event_type, user_id % 5) AS cvb,
       theilsU(event_type, user_id % 5) AS tu,
       contingency(event_type, user_id % 5) AS cg
FROM events WHERE event_id < 400
""",
        dialect="clickhouse",
    ).collect()[0]

    rows = duckdb.sql(
        "SELECT event_type, CAST(user_id % 5 AS VARCHAR) FROM read_parquet("
        "'/root/testdata/sf0.001/events.parquet') WHERE event_id < 400"
    ).fetchall()
    pc, ac, bc = Counter(rows), Counter(a for a, _ in rows), Counter(
        b for _, b in rows
    )
    n, nr, nc = len(rows), len(ac), len(bc)
    chi = n * (sum(v * v / (ac[a] * bc[b]) for (a, b), v in pc.items()) - 1)
    assert r.cv == round(math.sqrt(chi / (n * (min(nr, nc) - 1))), 6)
    p2 = max(0.0, chi / n - (nr - 1) * (nc - 1) / (n - 1))
    rc = nr - (nr - 1) ** 2 / (n - 1)
    cc = nc - (nc - 1) ** 2 / (n - 1)
    assert r.cvb == round(math.sqrt(p2 / (min(rc, cc) - 1)), 6)
    ha = -sum(v / n * math.log(v / n) for v in ac.values())
    hb = -sum(v / n * math.log(v / n) for v in bc.values())
    hab = -sum(v / n * math.log(v / n) for v in pc.values())
    assert r.tu == round((ha - (hab - hb)) / ha, 6)
    assert r.cg == round(math.sqrt(chi / (chi + n)), 6)

    # a constant column has min(r,c) = 1 → NULL, not a crash
    r1 = eng.sql(
        "SELECT cramersV(1, user_id % 5) AS cv FROM events WHERE event_id < 50",
        dialect="clickhouse",
    ).collect()[0]
    assert r1.cv is None

    with _pytest.raises(ChSqlError, match="exactly"):
        transpile("SELECT theilsU(a) FROM t")


def test_punycode_idna_family(spark):
    """punycodeEncode/Decode, idnaEncode/Decode + try* (CH 24.1, round 11):
    RFC 3492/3490 known vectors via the stdlib codecs; try* return '' on
    undecodable input (the tryBase64Decode convention), strict forms NULL
    (ANSI-safe analog of CH's exception)."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
SELECT punycodeEncode('München') AS pe,
       punycodeDecode('Mnchen-3ya') AS pd,
       punycodeEncode('abc') AS pe_ascii,
       tryPunycodeDecode('§invalid§') AS tpd,
       idnaEncode('münchen.de') AS ie,
       idnaDecode('xn--mnchen-3ya.de') AS id,
       tryIdnaEncode('') AS tie
""",
        dialect="clickhouse",
    ).collect()[0]
    assert r.pe == "Mnchen-3ya"
    assert r.pd == "München"
    assert r.pe_ascii == "abc-"
    assert r.tpd == ""
    assert r.ie == "xn--mnchen-3ya.de"
    assert r.id == "münchen.de"
    assert r.tie == ""


def test_series_decompose_stl(spark):
    """seriesDecomposeSTL (CH 24.x, round 11): structural contracts on a
    planted signal — exact closure (seasonal + trend + residue == series),
    period-periodic seasonal component, planted seasonality and linear
    trend recovered within tight bounds, short series → NULL."""
    import math

    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    # planted: period-7 seasonal [amplitude 10] + slope-0.5 trend
    n, p = 56, 7
    series = [
        10 * math.sin(2 * math.pi * (i % p) / p) + 0.5 * i for i in range(n)
    ]
    lit = "[" + ", ".join(f"{v!r}" for v in series) + "]"
    r = eng.sql(
        f"SELECT seriesDecomposeSTL({lit}, 7) AS d",
        dialect="clickhouse",
    ).collect()[0]
    seas, trend, resid = r.d
    assert len(seas) == len(trend) == len(resid) == n
    # exact closure (residue computed as the closure)
    for i in range(n):
        assert abs(seas[i] + trend[i] + resid[i] - series[i]) < 1e-9
    # seasonal is period-periodic by construction
    for i in range(n - p):
        assert abs(seas[i] - seas[i + p]) < 1e-9
    # planted amplitude recovered (mean trend removed per phase)
    assert max(seas) > 8.0 and min(seas) < -8.0
    # trend tracks the slope: ~0.5 per step over the interior
    mid_slope = (trend[40] - trend[16]) / 24
    assert abs(mid_slope - 0.5) < 0.1
    # residue is small relative to the signal
    assert max(abs(v) for v in resid) < 2.0

    # shorter than 2*period → NULL (the ANSI-safe analog of CH's throw)
    r2 = eng.sql(
        "SELECT seriesDecomposeSTL([1.0, 2.0, 3.0], 7) AS d",
        dialect="clickhouse",
    ).collect()[0]
    assert r2.d is None


def test_anova_and_group_array_intersect(spark):
    """analysisOfVariance / anova (CH 24.x, round 11): F and p pinned
    against an independent Python replay (NR betai over math.lgamma);
    pure-SQL lowering (Lanczos lgamma + fixed-100-step Lentz fold) so it
    MIXES with other aggregates in one SELECT.  Plus groupArrayIntersect
    mechanics and the degenerate-input contracts."""
    import math
    from collections import defaultdict

    import duckdb
    import pytest as _pytest

    from clickhouseocp_spark.chsql import ChSqlError, transpile
    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.functions.stats_dist import betai

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
SELECT tupleElement(analysisOfVariance(value, event_type), 1) AS f,
       tupleElement(anova(value, event_type), 2) AS p,
       uniqExact(user_id) AS u
FROM events WHERE event_id < 300
""",
        dialect="clickhouse",
    ).collect()[0]

    rows = duckdb.sql(
        "SELECT value, event_type FROM read_parquet("
        "'/root/testdata/sf0.001/events.parquet') WHERE event_id < 300"
    ).fetchall()
    groups = defaultdict(list)
    for v, g in rows:
        groups[g].append(v)
    n, k = len(rows), len(groups)
    mu = sum(v for v, _ in rows) / n
    ssb = sum(len(s) * (sum(s) / len(s) - mu) ** 2 for s in groups.values())
    ssw = sum(
        sum((x - sum(s) / len(s)) ** 2 for x in s) for s in groups.values()
    )
    f_ref = round((ssb / (k - 1)) / (ssw / (n - k)), 6)
    assert r.f == f_ref
    d1, d2 = k - 1, n - k
    assert r.p == round(betai(d2 / 2, d1 / 2, d2 / (d2 + d1 * f_ref)), 6)
    assert r.u > 0  # mixes with a plain aggregate — no placement error

    # betai SQL vs Python across the tail too (small/large F)
    for f_test in (0.05, 1.0, 5.0, 50.0):
        rr = eng.sql(
            f"SELECT tupleElement(anova(value, user_id % 4), 2) AS p "
            f"FROM events WHERE event_id < {int(100 * f_test) + 50}",
            dialect="clickhouse",
        ).collect()[0]
        assert rr.p is None or 0.0 <= rr.p <= 1.0

    # groupArrayIntersect: every row contributes [1,2,3] + its residue, so
    # the intersection is exactly [1,2,3] (residues differ across rows)...
    gi = eng.sql(
        """
SELECT toString(groupArrayIntersect(
    arrayConcat([1, 2, 3], [toInt64(event_id % 3)]))) AS gi
FROM events WHERE event_id < 300
""",
        dialect="clickhouse",
    ).collect()[0]
    assert gi.gi == "[1, 2, 3]"
    # ...and a discriminating split: even rows [1,2,4], odd rows [2,4,8]
    # → intersection [2, 4] (sorted output — documented determinism)
    gi2 = eng.sql(
        """
SELECT toString(groupArrayIntersect(
    if(event_id % 2 = 0, [4, 1, 2], [8, 2, 4]))) AS gi
FROM events WHERE event_id < 300
""",
        dialect="clickhouse",
    ).collect()[0]
    assert gi2.gi == "[2, 4]"

    with _pytest.raises(ChSqlError, match="exactly"):
        transpile("SELECT analysisOfVariance(v) FROM t")


def test_kql_special_functions(spark):
    """beta_cdf / gamma / loggamma / welch_test / binomial_test (round 11):
    pure-SQL Lanczos+incomplete-beta tier pinned against math.lgamma
    Python replays and known identities (Γ(5)=24, Γ(½)²=π)."""
    import math

    import pytest as _pytest

    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.functions.stats_dist import betai
    from clickhouseocp_spark.kql import KqlError, transpile_kql

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
print b = round(beta_cdf(0.3, 2.0, 5.0), 6),
      g = round(gamma(5.0), 6),
      gpi = round(gamma(0.5) * gamma(0.5), 6),
      gneg = gamma(-1.0),
      lg = round(loggamma(10.0), 6),
      w = round(welch_test(10.0, 4.0, 30, 11.5, 9.0, 40), 6),
      bt = round(binomial_test(60, 100, 0.5), 6),
      bl = round(binomial_test(40, 100, 0.5, 'less'), 6),
      e = round(erf(1.0), 6)
""",
        dialect="kusto",
    ).collect()[0]
    assert r.b == round(betai(2, 5, 0.3), 6)
    assert r.g == 24.0 and r.gpi == round(math.pi, 6) and r.gneg is None
    assert r.lg == round(math.lgamma(10), 6)
    s1, s2 = 4 / 30, 9 / 40
    t2 = (10 - 11.5) ** 2 / (s1 + s2)
    df = (s1 + s2) ** 2 / (s1 ** 2 / 29 + s2 ** 2 / 39)
    assert r.w == round(betai(df / 2, 0.5, df / (df + t2)), 6)
    assert r.bt == round(betai(60, 41, 0.5), 6)  # P(X>=60 | 100, .5)
    assert r.bl == round(betai(60, 41, 0.5), 6)  # symmetric at p=.5
    assert r.e == round(math.erf(1.0), 6)

    with _pytest.raises(KqlError, match="two-sided"):
        transpile_kql("t | extend p = binomial_test(3, 10, 0.5, 'two-sided')")
    with _pytest.raises(KqlError, match="welch_test"):
        transpile_kql("t | extend p = welch_test(1.0, 2.0)")


def test_ttest_tuple_pvalue(spark):
    """studentTTest/welchTTest return CH's real (t, p) tuple (round-11
    upgrade from the scalar-t deviation): both pinned against a
    statistics-module + NR-betai Python replay."""
    import statistics

    import duckdb

    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.functions.stats_dist import betai

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
SELECT round(tupleElement(studentTTest(value, event_id % 2), 1), 6) AS st,
       round(tupleElement(studentTTest(value, event_id % 2), 2), 6) AS sp,
       round(tupleElement(welchTTest(value, event_id % 2), 1), 6) AS wt,
       round(tupleElement(welchTTest(value, event_id % 2), 2), 6) AS wp
FROM events WHERE event_id < 400
""",
        dialect="clickhouse",
    ).collect()[0]
    rows = duckdb.sql(
        "SELECT value, event_id % 2 FROM read_parquet("
        "'/root/testdata/sf0.001/events.parquet') WHERE event_id < 400"
    ).fetchall()
    x0 = [v for v, i in rows if i == 0]
    x1 = [v for v, i in rows if i == 1]
    n0, n1 = len(x0), len(x1)
    v0, v1 = statistics.variance(x0), statistics.variance(x1)
    d = statistics.mean(x0) - statistics.mean(x1)
    t = d / ((v0 * (n0 - 1) + v1 * (n1 - 1)) / (n0 + n1 - 2)
             * (1 / n0 + 1 / n1)) ** 0.5
    df = n0 + n1 - 2
    assert (r.st, r.sp) == (
        round(t, 6), round(betai(df / 2, 0.5, df / (df + t * t)), 6)
    )
    se = v0 / n0 + v1 / n1
    tw = d / se ** 0.5
    dfw = se ** 2 / ((v0 / n0) ** 2 / (n0 - 1) + (v1 / n1) ** 2 / (n1 - 1))
    assert (r.wt, r.wp) == (
        round(tw, 6), round(betai(dfw / 2, 0.5, dfw / (dfw + tw * tw)), 6)
    )


def test_order_keyed_aggregates_and_matrices(spark):
    """entropy / corrMatrix / covar*Matrix / deltaSumTimestamp /
    exponentialTimeDecayedAvg / intervalLengthSum (round 11): pinned
    against independent Python replays on the fixture; bare deltaSum is
    rejected with guidance (physical-order dependence)."""
    import math

    import duckdb
    import pytest as _pytest

    from clickhouseocp_spark.chsql import ChSqlError, transpile
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
SELECT entropy(event_type) AS ent,
       round(arrayElement(arrayElement(
         corrMatrix(value, toFloat64(event_id)), 1), 2), 6) AS c12,
       round(arrayElement(arrayElement(
         corrMatrix(value, toFloat64(event_id)), 2), 1), 6) AS c21,
       arrayElement(arrayElement(
         corrMatrix(value, toFloat64(event_id)), 1), 1) AS c11,
       round(arrayElement(arrayElement(
         covarPopMatrix(value, toFloat64(event_id)), 1), 2), 6) AS vp12,
       round(arrayElement(arrayElement(
         covarSampMatrix(value, toFloat64(event_id)), 1), 2), 6) AS vs12,
       round(deltaSumTimestamp(value, ts), 6) AS dst,
       round(exponentialTimeDecayedAvg(3600.0)(
         value, toFloat64(toUnixTimestamp(ts))), 6) AS eda,
       round(intervalLengthSum(value, value + 10.0), 6) AS ils
FROM events WHERE event_id < 200
""",
        dialect="clickhouse",
    ).collect()[0]

    rows = duckdb.sql(
        "SELECT value, event_id, event_type, epoch(ts), ts FROM read_parquet("
        "'/root/testdata/sf0.001/events.parquet') WHERE event_id < 200 "
        "ORDER BY ts"
    ).fetchall()
    # entropy
    from collections import Counter

    cnt = Counter(g for _, _, g, _, _ in rows)
    n = len(rows)
    ent = -sum(c / n * math.log2(c / n) for c in cnt.values())
    assert r.ent == round(ent, 6)
    # corr matrix symmetry + diagonal
    assert r.c12 == r.c21 and r.c11 == 1.0
    xs = [v for v, *_ in rows]
    es = [float(e) for _, e, *_ in rows]
    mx, me = sum(xs) / n, sum(es) / n
    cov = sum((a - mx) * (b - me) for a, b in zip(xs, es)) / n
    assert r.vp12 == round(cov, 6)
    assert r.vs12 == round(cov * n / (n - 1), 6)
    # deltaSumTimestamp: positive deltas in ts order
    dst = sum(
        max(0.0, rows[i][0] - rows[i - 1][0]) for i in range(1, len(rows))
    )
    assert r.dst == round(dst, 6)
    # exponentialTimeDecayedAvg anchored at max ts; x is an e-folding
    # time constant (weight e^(-(T-t)/x)) exactly as CH defines it
    # toUnixTimestamp truncates to SECONDS (the repo's documented
    # oracle-parity gotcha) — floor the fractional epochs in the replay
    ts = [float(math.floor(t)) for *_, t, _ in rows]
    T = max(ts)
    w = [math.exp(-(T - t) / 3600.0) for t in ts]
    assert r.eda == round(
        sum(v * wi for v, wi in zip(xs, w)) / sum(w), 6
    )
    # intervalLengthSum: union of [v, v+10]
    ivs = sorted((v, v + 10.0) for v in xs)
    cur, tot = float("-inf"), 0.0
    for s, e in ivs:
        if s > cur:
            tot += e - s
            cur = e
        else:
            tot += max(0.0, e - cur)
            cur = max(cur, e)
    assert r.ils == round(tot, 6)

    with _pytest.raises(ChSqlError, match="deltaSumTimestamp"):
        transpile("SELECT deltaSum(v) FROM t")
    with _pytest.raises(ChSqlError, match="at least 2"):
        transpile("SELECT corrMatrix(v) FROM t")


def test_series_fit_poly(spark):
    """series_fit_poly (round 11): planted-polynomial recovery — the
    kernel must return the generating coefficients (highest degree
    first) within fitting tolerance, and the implicit-axis /
    explicit-axis / short-series contracts."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    # planted: y = 2x^2 - 3x + 5 on x = 0..9
    ys = [2 * x * x - 3 * x + 5 for x in range(10)]
    lit = "dynamic([" + ", ".join(f"{v}.0" for v in ys) + "])"
    r = eng.sql(
        f"""
print c2 = series_fit_poly({lit}, dynamic([0.0, 1.0, 2.0, 3.0, 4.0,
                                           5.0, 6.0, 7.0, 8.0, 9.0]), 2),
      c1 = series_fit_poly(dynamic([3.0, 5.0, 7.0, 9.0])),
      short = series_fit_poly(dynamic([1.0, 2.0]), dynamic([0.0, 1.0]), 3)
""",
        dialect="kusto",
    ).collect()[0]
    assert [round(v, 6) for v in r.c2] == [2.0, -3.0, 5.0]
    assert [round(v, 6) for v in r.c1] == [2.0, 3.0]  # slope, intercept
    assert r.short is None  # n <= degree → NULL


def test_proportions_onesample_quantile_batch(spark):
    """proportionsZTest / studentTTestOneSample / quantileExactExclusive /
    quantileExactInclusive / singleValueOrNull (round 11), pinned against
    Python replays; runningDifference/neighbor/deltaSum and the text-path
    largestTriangleThreeBuckets reject with guidance."""
    import math
    import statistics

    import duckdb
    import pytest as _pytest

    from clickhouseocp_spark.chsql import ChSqlError, transpile
    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.functions.stats_dist import betai

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
SELECT round(tupleElement(
         proportionsZTest(120, 100, 1000, 1000, 0.95, 'pooled'), 1), 6) AS z,
       round(tupleElement(
         proportionsZTest(120, 100, 1000, 1000, 0.95, 'pooled'), 2), 6) AS p,
       round(tupleElement(
         proportionsZTest(120, 100, 1000, 1000, 0.95, 'unpooled'), 1), 6)
         AS zu,
       round(tupleElement(studentTTestOneSample(value, 50.0), 1), 6) AS t1,
       round(tupleElement(studentTTestOneSample(value, 50.0), 2), 6) AS p1,
       round(quantileExactExclusive(0.25)(value), 6) AS qee,
       round(quantileExactInclusive(0.25)(value), 6) AS qei,
       singleValueOrNull(event_id % 1) AS sv1,
       singleValueOrNull(event_id % 2) AS sv2
FROM events WHERE event_id < 200
""",
        dialect="clickhouse",
    ).collect()[0]

    def phi_tail(z):
        t = 1 / (1 + 0.2316419 * z)
        poly = t * (0.319381530 + t * (-0.356563782 + t * (1.781477937
                    + t * (-1.821255978 + t * 1.330274429))))
        return math.exp(-z * z / 2) / math.sqrt(2 * math.pi) * poly

    px, py, pp = 0.12, 0.10, 0.11
    sep = math.sqrt(pp * (1 - pp) * (2 / 1000))
    seu = math.sqrt(px * (1 - px) / 1000 + py * (1 - py) / 1000)
    assert r.z == round((px - py) / sep, 6)
    assert r.p == round(min(1, 2 * phi_tail((px - py) / sep)), 6)
    assert r.zu == round((px - py) / seu, 6)

    vals = [
        v
        for (v,) in duckdb.sql(
            "SELECT value FROM read_parquet("
            "'/root/testdata/sf0.001/events.parquet') WHERE event_id < 200"
        ).fetchall()
    ]
    n = len(vals)
    t = (statistics.mean(vals) - 50.0) / (
        statistics.stdev(vals) / math.sqrt(n)
    )
    df = n - 1
    assert r.t1 == round(t, 6)
    assert r.p1 == round(betai(df / 2, 0.5, df / (df + t * t)), 6)

    a = sorted(vals)
    h = min(max(0.25 * (n + 1), 1.0), float(n))
    lo = int(math.floor(h))
    qee = a[lo - 1] + (h - lo) * (a[min(lo + 1, n) - 1] - a[lo - 1])
    assert r.qee == round(qee, 6)
    assert r.qei is not None and r.qei != r.qee  # distinct conventions
    assert r.sv1 == 0 and r.sv2 is None

    # largestTriangleThreeBuckets lowers since r14 (the sorted pure-JVM
    # fold — see test_lttb_round14); the reject list keeps the others
    assert "aggregate" in transpile(
        "SELECT largestTriangleThreeBuckets(12)(x, y) FROM t"
    )
    for bad in (
        "SELECT runningDifference(v) FROM t",
        "SELECT neighbor(v, 1) FROM t",
        "SELECT proportionsZTest(1, 2, 3, 4, 0.99, 'pooled') FROM t",
    ):
        with _pytest.raises(ChSqlError):
            transpile(bad)


def test_kql_scalar_completions_r11(spark):
    """beta_pdf / atan2 / isnan / rand / bag_set_key / repeat / isutf8 /
    unicode_codepoints_from_string / base64_decode_toarray /
    punycode_from_string / punycode_to_string / series_round +
    binary_all_and/or/xor aggregates (round 11) — known answers and
    range contracts."""
    import functools
    import math

    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
print bp = round(beta_pdf(0.3, 2.0, 5.0), 6),
      at = round(atan2(1.0, 1.0), 6),
      nn = isnan(sqrt(-1.0)), nn2 = isnan(1.5),
      r1 = rand() >= 0.0 and rand() < 1.0,
      r2 = rand(10) >= 0 and rand(10) <= 9,
      bsk = tostring(bag_set_key(bag_pack('a', 1, 'b', 2), 'b', 9)),
      rp = tostring(repeat(7, 3)),
      iu = isutf8('abc'),
      ucp = tostring(unicode_codepoints_from_string('AbZ')),
      b64 = tostring(base64_decode_toarray('QUJD')),
      pf = punycode_from_string('München'),
      pt = punycode_to_string('Mnchen-3ya'),
      sr = tostring(series_round(dynamic([1.2, 2.7, -1.5])))
""",
        dialect="kusto",
    ).collect()[0]
    # beta_pdf(0.3; 2, 5) = 30 * 0.3 * 0.7^4 (closed form)
    assert r.bp == round(30 * 0.3 * 0.7 ** 4, 6)
    assert r.at == round(math.pi / 4, 6)
    assert (r.nn, r.nn2) == (True, False)
    assert r.r1 is True and r.r2 is True
    assert r.bsk == "{a -> 1, b -> 9}"
    assert r.rp == "[7, 7, 7]"
    assert r.iu is True
    assert r.ucp == "[65, 98, 90]"
    assert r.b64 == "[65, 66, 67]"  # base64('ABC')
    assert (r.pf, r.pt) == ("Mnchen-3ya", "München")
    assert r.sr == "[1.0, 3.0, -2.0]"

    agg = eng.sql(
        "events | where event_id < 100 | summarize "
        "a = binary_all_and(event_id % 4 + 4), "
        "o = binary_all_or(event_id % 4), "
        "x = binary_all_xor(event_id)",
        dialect="kusto",
    ).collect()[0]
    assert agg.a == 4 and agg.o == 3
    assert agg.x == functools.reduce(lambda p, q: p ^ q, range(100))


def test_kql_ipv6_tier(spark):
    """parse_ipv6 / ipv6_compare / ipv6_is_match (round 11): RFC-4291
    canonicalization ('::' expansion, zero-padding, v4-mapped and
    dotted-quad-tail forms), invalid shapes → NULL, bit-prefix matching
    down to partial nibbles."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
print p1 = parse_ipv6('fe80::85d:e82c:9446:7994'),
      p2 = parse_ipv6('::1'),
      p3 = parse_ipv6('192.168.1.1'),
      p4 = parse_ipv6('::ffff:10.0.0.1'),
      p5 = parse_ipv6('not an ip'),
      p6 = parse_ipv6('1:2:3:4:5:6:7:8:9'),
      c1 = ipv6_compare('fe80::1',
                        'fe80:0000:0000:0000:0000:0000:0000:0001'),
      c2 = ipv6_compare('::1', '::2'),
      m1 = ipv6_is_match('fe80::1', 'fe80::ffff', 64),
      m2 = ipv6_is_match('fe80::1', 'fe81::1', 64),
      m3 = ipv6_is_match('fe80::1', 'fe80::1'),
      m4 = ipv6_is_match('fe80::aa00:0:0:0', 'fe80::a800:0:0:0', 70),
      m5 = ipv6_is_match('fe80::aa00:0:0:0', 'fe80::a800:0:0:0', 72)
""",
        dialect="kusto",
    ).collect()[0]
    assert r.p1 == "fe80:0000:0000:0000:085d:e82c:9446:7994"
    assert r.p2 == "0000:0000:0000:0000:0000:0000:0000:0001"
    assert r.p3 == "0000:0000:0000:0000:0000:ffff:c0a8:0101"
    assert r.p4 == "0000:0000:0000:0000:0000:ffff:0a00:0001"
    assert r.p5 is None and r.p6 is None
    assert (r.c1, r.c2) == (0, -1)
    assert (r.m1, r.m2, r.m3) == (True, False, True)
    # aa vs a8 agree through bit 69 but differ inside bits 64..71
    assert (r.m4, r.m5) == (True, False)


def test_advice_r11_regressions(spark):
    """Round-12 pins for the round-11 ADVICE items (all verified live
    before fixing):

    1. quantileExactExclusive over an all-NULL group returned NULL
       instead of aborting with INVALID_INDEX_OF_ZERO under ANSI mode.
    2. groupArrayIntersect over an all-NULL group returns a typed NULL
       (try_element_at) instead of INVALID_ARRAY_INDEX.
    3. exponentialTimeDecayedAvg's parameter is an E-FOLDING time
       constant (weight e^(-(T-t)/x)) per ClickHouse — not a base-2
       half-life (the ln2-factor deviation).
    4. betacf_sql's Lentz fold is adaptively sized (~3*sqrt(max(a,b)));
       a df=2e6 t-tail matches the Python replica to ~1e-11.
    5. ipv6_is_match combines the explicit prefix AND both '/len'
       suffixes as the MINIMUM (Kusto), and parse_ipv6 rejects
       dotted-quad octets > 255 instead of silently truncating their
       hex fold.
    """
    import math

    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.functions import stats_dist
    from clickhouseocp_spark.functions.sqlstats import betai_sql

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)

    # 1 + 2: all-NULL groups no longer abort under ANSI
    spark.sql(
        "SELECT * FROM VALUES (1, CAST(NULL AS DOUBLE), "
        "CAST(NULL AS ARRAY<INT>)), (1, NULL, NULL), "
        "(2, 5.0, array(1, 2, 3)), (2, 7.0, array(2, 3, 4)) t(g, v, a)"
    ).createOrReplaceTempView("advice_r11")
    rows = eng.sql(
        "SELECT g, quantileExactExclusive(0.5)(v) AS q, "
        "groupArrayIntersect(a) AS ia "
        "FROM advice_r11 GROUP BY g ORDER BY g",
        dialect="clickhouse",
    ).collect()
    assert rows[0].q is None and rows[0].ia is None
    assert rows[1].q == 6.0 and sorted(rows[1].ia) == [2, 3]

    # 3: e-folding decay
    r = eng.sql(
        "SELECT round(exponentialTimeDecayedAvg(10.0)(v, t), 9) AS e "
        "FROM VALUES (1.0, 0.0), (3.0, 10.0) AS t(v, t)",
        dialect="clickhouse",
    ).collect()[0]
    w = math.exp(-1.0)
    assert r.e == round((1.0 * w + 3.0) / (w + 1.0), 9)

    # 4: large-df incomplete-beta accuracy vs the Python replica
    df_, tstat = 2_000_000.0, 1.96
    x = df_ / (df_ + tstat * tstat)
    p_sql = spark.sql(
        f"SELECT {betai_sql(str(df_ / 2), '0.5', repr(x))} AS p"
    ).collect()[0].p
    assert abs(p_sql - stats_dist.betai(df_ / 2, 0.5, x)) < 1e-9
    # and the tail is sane: ~0.05 for |t|=1.96 at huge df
    assert abs(p_sql - 0.05) < 1e-4

    # 5: min-prefix combination + octet validation
    r = eng.sql(
        """
print m48 = ipv6_is_match('fe80:0001:0002:0003::1/64',
                          'fe80:0001:0002:ffff::1/48'),
      m64 = ipv6_is_match('fe80:0001:0002:0003::1/64',
                          'fe80:0001:0002:ffff::1'),
      marg = ipv6_is_match('fe80:0001:0002:0003::1/64',
                           'fe80:0001:0002:ffff::1', 48),
      bad = parse_ipv6('::ffff:300.1.1.1'),
      bad2 = parse_ipv6('999999999999.1.1.1'),
      ok = parse_ipv6('::ffff:255.255.255.255')
""",
        dialect="kusto",
    ).collect()[0]
    assert (r.m48, r.m64, r.marg) == (True, False, True)
    assert r.bad is None and r.bad2 is None
    assert r.ok == "0000:0000:0000:0000:0000:ffff:ffff:ffff"


def test_morton_hilbert_curves(spark):
    """mortonEncode/Decode + hilbertEncode/Decode (CH 24.6, round 12):
    pinned against an independent Python replay of the published
    Wikipedia xy2d/d2xy iteration and the morton-nd parity CH wraps
    (first arg at even/LSB positions: mortonEncode(1,2)=9, the only
    convention consistent with CH's documented 3-D example
    mortonEncode(1,2,3)=53 — ADVICE r12 #1 fixed the r12 swap;
    hilbertEncode(3,4)=31); roundtrips exact; non-2-D forms rejected
    with the subset message."""
    import pytest as _pytest

    from clickhouseocp_spark.chsql import ChSqlError, transpile
    from clickhouseocp_spark.engine import ChSparkEngine

    def rot(n, x, y, rx, ry):
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        return x, y

    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            x, y = rot(n, x, y, rx, ry)
            s //= 2
        return d

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    cases = [(1, 2), (3, 4), (123, 456), (1023, 17), (314159, 271828),
             (2**30, 2**30 - 1)]
    vals = ", ".join(f"({x}, {y})" for x, y in cases)
    rows = eng.sql(
        f"""
SELECT x, y, mortonEncode(x, y) AS me, hilbertEncode(x, y) AS he,
  tupleElement(mortonDecode(2, mortonEncode(x, y)), 1) AS mx,
  tupleElement(mortonDecode(2, mortonEncode(x, y)), 2) AS my,
  tupleElement(hilbertDecode(2, hilbertEncode(x, y)), 1) AS hx,
  tupleElement(hilbertDecode(2, hilbertEncode(x, y)), 2) AS hy
FROM VALUES {vals} AS t(x, y)
""",
        dialect="clickhouse",
    ).collect()
    for r in rows:
        exp_m = sum(((r.x >> i) & 1) << (2 * i) for i in range(31)) \
            + sum(((r.y >> i) & 1) << (2 * i + 1) for i in range(31))
        assert r.me == exp_m and r.he == xy2d(2**31, r.x, r.y)
        assert (r.mx, r.my) == (r.x, r.y) and (r.hx, r.hy) == (r.x, r.y)
    by_xy = {(r.x, r.y): r for r in rows}
    assert by_xy[(1, 2)].me == 9  # morton-nd parity (CH wraps morton-nd)
    assert by_xy[(3, 4)].he == 31  # CH doc example

    with _pytest.raises(ChSqlError, match="2-D"):
        transpile("SELECT mortonEncode(a, b, c) FROM t")
    with _pytest.raises(ChSqlError, match="dimension 2"):
        transpile("SELECT hilbertDecode(3, c) FROM t")


def test_timeseries_to_grid(spark):
    """timeSeriesResampleToGridWithStaleness / InstantDeltaToGrid /
    InstantRateToGrid (CH 25.6 PromQL tier, round 12): pinned against an
    independent Python replay on planted samples — staleness lookback,
    idelta, irate with counter-reset handling, empty-window NULLs."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    # planted: samples at t = 5, 18, 22, 41 (counter resets at t=22)
    samples = [(5.0, 10.0), (18.0, 30.0), (22.0, 4.0), (41.0, 9.0)]
    vals = ", ".join(f"({t}, {v})" for t, v in samples)
    r = eng.sql(
        f"""
SELECT timeSeriesResampleToGridWithStaleness(0, 50, 10, 15)(t, v) AS rs,
       timeSeriesInstantDeltaToGrid(0, 50, 10, 25)(t, v) AS idl,
       timeSeriesInstantRateToGrid(0, 50, 10, 25)(t, v) AS irt
FROM VALUES {vals} AS s(t, v)
""",
        dialect="clickhouse",
    ).collect()[0]

    def last_two(g, w):
        win = [(t, v) for t, v in samples if g - w < t <= g]
        return win[-2:] if len(win) >= 2 else None

    grid = [0.0, 10.0, 20.0, 30.0, 40.0, 50.0]
    exp_rs = []
    for g in grid:
        win = [(t, v) for t, v in samples if g - 15 < t <= g]
        exp_rs.append(win[-1][1] if win else None)
    assert r.rs == exp_rs
    exp_idl, exp_irt = [], []
    for g in grid:
        lt = last_two(g, 25)
        if lt is None:
            exp_idl.append(None)
            exp_irt.append(None)
            continue
        (t1, v1), (t2, v2) = lt
        exp_idl.append(v2 - v1)
        exp_irt.append((v2 - v1 if v2 >= v1 else v2) / (t2 - t1))
    assert r.idl == exp_idl
    assert r.irt == exp_irt


def test_damerau_jaro_distances(spark):
    """damerauLevenshteinDistance / jaroSimilarity /
    jaroWinklerSimilarity (CH 24.8, round 12): cross-checked against
    DuckDB's INDEPENDENT implementations (not replays) over known pairs
    plus a seeded random battery — full-DL transposition semantics
    (d('CA','ABC') = 2, not the OSA 3), the 0.7 Winkler boost threshold,
    and the empty-side → 0 convention."""
    import random

    import duckdb

    from clickhouseocp_spark.engine import ChSparkEngine

    rng = random.Random(20260816)
    alpha = "abcde"
    cases = [("CA", "ABC"), ("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"),
             ("DWAYNE", "DUANE"), ("aXXXXX", "aYYYYY"),
             ("clickhouse", "mouse"), ("", ""), ("abc", ""), ("a", "a"),
             ("kitten", "sitting"), ("aabbcc", "ccbbaa")]
    cases += [
        ("".join(rng.choice(alpha) for _ in range(rng.randint(0, 12))),
         "".join(rng.choice(alpha) for _ in range(rng.randint(0, 12))))
        for _ in range(40)
    ]
    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    vals = ", ".join(f"('{x}', '{y}')" for x, y in cases)
    rows = eng.sql(
        f"""
SELECT a, b, damerauLevenshteinDistance(a, b) AS dl,
       round(jaroSimilarity(a, b), 9) AS js,
       round(jaroWinklerSimilarity(a, b), 9) AS jw
FROM VALUES {vals} AS t(a, b)
""",
        dialect="clickhouse",
    ).collect()
    assert len(rows) == len(cases)
    for r in rows:
        d = duckdb.sql(
            f"SELECT damerau_levenshtein('{r.a}','{r.b}'), "
            f"jaro_similarity('{r.a}','{r.b}'), "
            f"jaro_winkler_similarity('{r.a}','{r.b}')"
        ).fetchone()
        assert r.dl == d[0], (r.a, r.b, r.dl, d[0])
        assert r.js == round(d[1], 9), (r.a, r.b, r.js, d[1])
        assert r.jw == round(d[2], 9), (r.a, r.b, r.jw, d[2])


def test_kql_rotate_right_and_punycode_domain(spark):
    """array_rotate_right (= rotate_left by −n, pmod-folded) and the
    punycode_domain_from_string/punycode_domain_to_string IDNA pair
    (round 12): planted values."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
print r1 = array_rotate_right(dynamic([1, 2, 3, 4, 5]), 2),
      r2 = array_rotate_right(dynamic([1, 2, 3, 4, 5]), -1),
      r3 = array_rotate_right(dynamic([1, 2, 3]), 7),
      pd = punycode_domain_from_string('xn--bcher-kva.example.com'),
      pe = punycode_domain_to_string('bücher.example.com')
""",
        dialect="kusto",
    ).collect()[0]
    assert r.r1 == [4, 5, 1, 2, 3]
    assert r.r2 == [2, 3, 4, 5, 1]
    assert r.r3 == [3, 1, 2]  # 7 mod 3 = 1 right-rotation
    assert r.pd == "bücher.example.com"
    assert r.pe == "xn--bcher-kva.example.com"


def test_timeseries_rate_delta_to_grid(spark):
    """timeSeriesRateToGrid / timeSeriesDeltaToGrid (CH 25.6, round 12):
    pinned against an independent Python replay of PromQL's
    extrapolatedRate (counter-reset correction, edge extrapolation
    capped at 1.1x the average sample interval, zero-crossing cap for
    counters, rate dividing by the window and delta not)."""
    from clickhouseocp_spark.engine import ChSparkEngine

    samples = [(3.0, 5.0), (11.0, 9.0), (19.0, 2.0), (27.0, 6.0),
               (36.0, 11.0), (44.0, 13.0)]
    grid = [0.0, 10.0, 20.0, 30.0, 40.0, 50.0]
    W = 30.0

    def replay(g, counter):
        win = [(t, v) for t, v in samples if g - W < t <= g]
        if len(win) < 2 or win[-1][0] <= win[0][0]:
            return None
        t1, v1 = win[0]
        tn, vn = win[-1]
        rs = sum(win[k - 1][1] for k in range(1, len(win))
                 if win[k][1] < win[k - 1][1]) if counter else 0.0
        inc = vn - v1 + rs
        si, n = tn - t1, len(win)
        ad = si / (n - 1)
        ds0, de = t1 - (g - W), g - tn
        if counter:
            dz = si * v1 / inc if inc > 0 and v1 >= 0 else ds0
            ds = min(ds0, dz)
        else:
            ds = ds0
        ext = si + (ds if ds < 1.1 * ad else ad / 2) \
            + (de if de < 1.1 * ad else ad / 2)
        out = inc * (ext / si)
        return out / W if counter else out

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    vals = ", ".join(f"({t}, {v})" for t, v in samples)
    r = eng.sql(
        f"""
SELECT timeSeriesRateToGrid(0, 50, 10, 30)(t, v) AS rt,
       timeSeriesDeltaToGrid(0, 50, 10, 30)(t, v) AS dl
FROM VALUES {vals} AS s(t, v)
""",
        dialect="clickhouse",
    ).collect()[0]
    exp_rt = [replay(g, True) for g in grid]
    exp_dl = [replay(g, False) for g in grid]
    assert [None if v is None else round(v, 9) for v in r.rt] \
        == [None if v is None else round(v, 9) for v in exp_rt]
    assert [None if v is None else round(v, 9) for v in r.dl] \
        == [None if v is None else round(v, 9) for v in exp_dl]
    # the reset at t=19 (9 -> 2) must inflate rate but not delta
    assert r.rt[3] is not None and r.dl[3] is not None
    assert r.rt[3] * W > r.dl[3]


def test_sequence_match_events_gini_interval(spark):
    """sequenceMatchEvents / arrayNormalizedGini / toInterval(n, 'unit')
    / toUnixTimestamp64Second (round 12): planted chains (matched
    timestamps in chain order, no-match -> empty), the Kaggle
    normalized-Gini replay, generic-interval arithmetic, and the
    64-second epoch."""
    import pytest as _pytest

    from clickhouseocp_spark.chsql import ChSqlError, transpile
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    # events: (ts, kind) — chain A(kind=1) then B(kind=2) matches at 2, 5
    r = eng.sql(
        """
SELECT sequenceMatchEvents('(?1).*(?2)')(t, k = 1, k = 2) AS ev,
       sequenceMatchEvents('(?1).*(?2)')(t, k = 9, k = 2) AS none
FROM VALUES (1, 2), (2, 1), (3, 3), (5, 2), (7, 2) AS s(t, k)
""",
        dialect="clickhouse",
    ).collect()[0]
    assert r.ev == [2, 5] and r.none == []

    # normalized gini: replay the Kaggle convention on a planted case
    pred = [0.9, 0.3, 0.8, 0.75, 0.65, 0.6, 0.78, 0.7, 0.05, 0.4]
    label = [1.0, 0.0, 1.0, 1.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0]

    def gini(key, lab):
        order = sorted(range(len(lab)), key=lambda i: (-key[i], lab[i]))
        ls = [lab[i] for i in order]
        total, cum, gsum = sum(ls), 0.0, 0.0
        for v in ls:
            cum += v
            gsum += cum
        return (gsum / total - (len(ls) + 1) / 2.0) / len(ls)

    pl = ", ".join(map(str, pred))
    ll = ", ".join(map(str, label))
    r2 = eng.sql(
        f"""
SELECT round(tupleElement(arrayNormalizedGini([{pl}], [{ll}]), 1), 9) AS gp,
       round(tupleElement(arrayNormalizedGini([{pl}], [{ll}]), 2), 9) AS gl,
       round(tupleElement(arrayNormalizedGini([{pl}], [{ll}]), 3), 9) AS gn,
       toInterval(3, 'day') + toDateTime('2024-01-01 00:00:00') AS d3,
       toInterval(2, 'weeks') + toDate('2024-01-01') AS w2,
       toUnixTimestamp64Second(toDateTime('2024-01-02 00:00:00')) AS u64
""",
        dialect="clickhouse",
    ).collect()[0]
    gp, gl = gini(pred, label), gini(label, label)
    assert r2.gp == round(gp, 9)
    assert r2.gl == round(gl, 9)
    assert r2.gn == round(gp / gl, 9)
    assert str(r2.d3).startswith("2024-01-04")
    assert str(r2.w2).startswith("2024-01-15")
    assert r2.u64 == 1704153600

    with _pytest.raises(ChSqlError, match="unit must be a literal"):
        transpile("SELECT toInterval(3, 'fortnight') FROM t")


def test_kql_extract_all_percentilesw(spark):
    """extract_all (1-group → array, n-group → array-of-arrays,
    captureGroups index subset, literal-regex contract) and bare
    percentilesw aliasing the _array surface (round 12)."""
    import duckdb
    import pytest as _pytest

    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.kql import KqlError, transpile_kql

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        r"""
print e1 = extract_all('(\\d+)', 'a1b22c333'),
      e2 = extract_all('(\\w)(\\d+)', 'a1b22c333'),
      e3 = extract_all('(\\w)(\\d+)', dynamic([2]), 'a1b22c333')
""",
        dialect="kusto",
    ).collect()[0]
    assert r.e1 == ["1", "22", "333"]
    assert r.e2 == [["a", "1"], ["b", "22"], ["c", "333"]]
    assert r.e3 == ["1", "22", "333"]

    # Group-counter hardening (ADVICE r12 #3): escaped backslash before
    # a REAL group, paren inside a character class, and named groups —
    # which are capturing in RE2/Kusto/Java and consume indexes.
    r2 = eng.sql(
        r"""
print g1 = extract_all('\\\\(\\d+)', 'x\\1y\\22z'),
      g2 = extract_all('([(])(\\d+)', '(1 (22'),
      g3 = extract_all('(?<w>\\w)-(\\d+)', dynamic([2]), 'a-1 b-22')
""",
        dialect="kusto",
    ).collect()[0]
    assert r2.g1 == ["1", "22"]
    assert r2.g2 == [["(", "1"], ["(", "22"]]
    assert r2.g3 == ["1", "22"]  # named group holds index 1

    rows = eng.sql(
        """
events | where event_id < 200
| summarize pw = percentilesw(value, event_id % 3 + 1, 25, 50, 75)
  by event_type
| order by event_type asc
""",
        dialect="kusto",
    ).collect()
    # replay: weight-expanded exact interpolated percentiles via DuckDB
    for row in rows:
        exp = duckdb.sql(
            "SELECT quantile_cont(value, [0.25, 0.5, 0.75]) FROM ("
            "SELECT e.value FROM read_parquet("
            "'/root/testdata/sf0.001/events.parquet') e "
            "JOIN (SELECT unnest(range(1, 4)) AS r) reps "
            "ON reps.r <= e.event_id % 3 + 1 "
            f"WHERE e.event_id < 200 AND e.event_type = '{row.event_type}' "
            "AND e.value IS NOT NULL)"
        ).fetchone()[0]
        assert [round(v, 9) for v in row.pw] == [round(v, 9) for v in exp]

    with _pytest.raises(KqlError, match="LITERAL"):
        transpile_kql("print x = extract_all(col, 'abc')")
    with _pytest.raises(KqlError, match="capture group"):
        transpile_kql(r"print x = extract_all('\\d+', 'abc')")


def test_morton_hilbert_randomized_roundtrip(spark):
    """Round-12 hardening: 120 seeded-random coordinate pairs through
    encode→decode roundtrips plus the Python xy2d cross-check — covers
    the full 31-bit range uniformly, not just the hand-picked cases."""
    import random

    from clickhouseocp_spark.engine import ChSparkEngine

    def rot(n, x, y, rx, ry):
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        return x, y

    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            x, y = rot(n, x, y, rx, ry)
            s //= 2
        return d

    rng = random.Random(12)
    cases = [(rng.randrange(0, 2**31), rng.randrange(0, 2**31))
             for _ in range(120)]
    vals = ", ".join(f"({x}, {y})" for x, y in cases)
    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    rows = eng.sql(
        f"""
SELECT x, y, mortonEncode(x, y) AS me, hilbertEncode(x, y) AS he,
  tupleElement(mortonDecode(2, mortonEncode(x, y)), 1) AS mx,
  tupleElement(mortonDecode(2, mortonEncode(x, y)), 2) AS my,
  tupleElement(hilbertDecode(2, hilbertEncode(x, y)), 1) AS hx,
  tupleElement(hilbertDecode(2, hilbertEncode(x, y)), 2) AS hy
FROM VALUES {vals} AS t(x, y)
""",
        dialect="clickhouse",
    ).collect()
    assert len(rows) == 120
    for r in rows:
        assert (r.mx, r.my) == (r.x, r.y)
        assert (r.hx, r.hy) == (r.x, r.y)
        assert r.he == xy2d(2**31, r.x, r.y)
        exp_m = sum(((r.x >> i) & 1) << (2 * i) for i in range(31)) \
            + sum(((r.y >> i) & 1) << (2 * i + 1) for i in range(31))
        assert r.me == exp_m


def test_timeseries_grid_randomized(spark):
    """Round-12 hardening: seeded-random sample sets through all five
    timeSeries*ToGrid kinds vs the Python replay — windows that are
    empty, single-sample, tied-boundary, and reset-heavy all occur."""
    import random

    from clickhouseocp_spark.engine import ChSparkEngine

    rng = random.Random(1212)
    samples = sorted(
        (float(rng.randrange(0, 100)), float(rng.randrange(0, 40)))
        for _ in range(25)
    )
    grid = [float(g) for g in range(0, 101, 20)]
    W = 30.0

    def win(g, w):
        return [(t, v) for t, v in samples if g - w < t <= g]

    def rate_delta(g, counter):
        w = win(g, W)
        if len(w) < 2 or w[-1][0] <= w[0][0]:
            return None
        (t1, v1), (tn, vn) = w[0], w[-1]
        rs = sum(w[k - 1][1] for k in range(1, len(w))
                 if w[k][1] < w[k - 1][1]) if counter else 0.0
        inc, si, n = vn - v1 + rs, tn - t1, len(w)
        ad = si / (n - 1)
        ds0, de = t1 - (g - W), g - tn
        ds = min(ds0, si * v1 / inc) if counter and inc > 0 and v1 >= 0 \
            else ds0
        ext = si + (ds if ds < 1.1 * ad else ad / 2) \
            + (de if de < 1.1 * ad else ad / 2)
        out = inc * (ext / si)
        return out / W if counter else out

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    vals = ", ".join(f"({t}, {v})" for t, v in samples)
    r = eng.sql(
        f"""
SELECT timeSeriesResampleToGridWithStaleness(0, 100, 20, 30)(t, v) AS rs,
       timeSeriesInstantDeltaToGrid(0, 100, 20, 30)(t, v) AS idl,
       timeSeriesInstantRateToGrid(0, 100, 20, 30)(t, v) AS irt,
       timeSeriesRateToGrid(0, 100, 20, 30)(t, v) AS rt,
       timeSeriesDeltaToGrid(0, 100, 20, 30)(t, v) AS dl
FROM VALUES {vals} AS s(t, v)
""",
        dialect="clickhouse",
    ).collect()[0]

    def rnd(xs):
        return [None if v is None else round(v, 9) for v in xs]

    exp_rs = [(win(g, 30.0)[-1][1] if win(g, 30.0) else None)
              for g in grid]
    assert rnd(r.rs) == rnd(exp_rs)
    exp_idl, exp_irt = [], []
    for g in grid:
        w = win(g, W)
        if len(w) < 2 or w[-1][0] == w[-2][0]:
            exp_idl.append(None if len(w) < 2 else w[-1][1] - w[-2][1])
            exp_irt.append(None)
            continue
        (t2, v2), (t1, v1) = w[-2], w[-1]
        exp_idl.append(v1 - v2)
        exp_irt.append((v1 - v2 if v1 >= v2 else v1) / (t1 - t2))
    assert rnd(r.idl) == rnd(exp_idl)
    assert rnd(r.irt) == rnd(exp_irt)
    assert rnd(r.rt) == rnd([rate_delta(g, True) for g in grid])
    assert rnd(r.dl) == rnd([rate_delta(g, False) for g in grid])


def test_window_view_tumble_hop(spark):
    """CREATE WINDOW VIEW + tumble/hop/tumbleStart/tumbleEnd/hopStart/
    hopEnd (CH 22.x experimental, round 12): batch analog — the view
    recomputes per read; windows verified against DuckDB date_trunc
    buckets; CH hop(time, slide, size) maps to Spark
    window(time, size, slide)."""
    import duckdb

    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    eng.sql(
        """
CREATE WINDOW VIEW wv_daily_t AS
SELECT tumbleStart(tumble(ts, INTERVAL 1 DAY)) AS ws,
       tumbleEnd(tumble(ts, INTERVAL 1 DAY)) AS we,
       count() AS n
FROM events WHERE event_id < 200
GROUP BY tumble(ts, INTERVAL 1 DAY)
""",
        dialect="clickhouse",
    )
    rows = eng.sql(
        "SELECT * FROM wv_daily_t ORDER BY ws", dialect="clickhouse"
    ).collect()
    exp = duckdb.sql(
        "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws, "
        "count(*) AS n FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet') "
        "WHERE event_id < 200 GROUP BY 1 ORDER BY 1"
    ).fetchall()
    assert [(r.ws, r.n) for r in rows] == [(t, n) for t, n in exp]
    for r in rows:
        assert (r.we - r.ws).total_seconds() == 86400

    # hop: 1-day windows sliding 12h — every event lands in exactly 2
    hop = eng.sql(
        """
SELECT hopStart(hop(ts, INTERVAL 12 HOUR, INTERVAL 1 DAY)) AS hs,
       count() AS n
FROM events WHERE event_id < 200
GROUP BY hop(ts, INTERVAL 12 HOUR, INTERVAL 1 DAY)
""",
        dialect="clickhouse",
    ).collect()
    assert sum(r.n for r in hop) == 2 * 200


def test_vocab_r38_scalars_randomized(spark):
    """Round-12 hardening for the r38 scalar batch: seeded-random
    arrayLevenshtein vs an independent Python DP, CRC32 vs zlib,
    stringBytes* vs byte-level replays, multi-arg
    arraySymmetricDifference, and stringCompare orderings."""
    import math
    import random
    import zlib

    from clickhouseocp_spark.engine import ChSparkEngine

    rng = random.Random(3812)

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, x in enumerate(a, 1):
            cur = [i]
            for j, y in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (x != y)))
            prev = cur
        return prev[-1]

    arrs = [
        ([rng.randrange(0, 5) for _ in range(rng.randrange(0, 8))],
         [rng.randrange(0, 5) for _ in range(rng.randrange(0, 8))])
        for _ in range(30)
    ]
    strs = ["", "a", "hello world", "aAbB!\t9", "ÿüé€", "xyzxyzxyz"]
    eng = ChSparkEngine("/root/testdata/sf0.001", spark)

    def sqlarr(a):
        return ("array(" + ", ".join(map(str, a)) + ")") if a \
            else "CAST(array() AS ARRAY<INT>)"

    sel = ", ".join(
        f"arrayLevenshtein({sqlarr(a)}, {sqlarr(b)}) AS lv{i}"
        for i, (a, b) in enumerate(arrs)
    )
    r = eng.sql(f"SELECT {sel}", dialect="clickhouse").collect()[0]
    for i, (a, b) in enumerate(arrs):
        assert r[f"lv{i}"] == lev(a, b), (a, b)

    sel2 = ", ".join(
        f"CRC32('{s}') AS c{i}, stringBytesUniq('{s}') AS u{i}, "
        f"round(stringBytesEntropy('{s}'), 9) AS e{i}"
        for i, s in enumerate(strs) if "'" not in s
    )
    r2 = eng.sql(f"SELECT {sel2}", dialect="clickhouse").collect()[0]
    for i, s in enumerate(strs):
        bs = s.encode("utf-8")
        assert r2[f"c{i}"] == zlib.crc32(bs)
        assert r2[f"u{i}"] == len(set(bs))
        if bs:
            n = len(bs)
            ent = -sum(bs.count(v) / n * math.log2(bs.count(v) / n)
                       for v in set(bs))
        else:
            ent = 0.0
        assert r2[f"e{i}"] == round(ent, 9)

    r3 = eng.sql(
        """
SELECT arraySymmetricDifference([1, 2], [2, 3], [2, 4]) AS s3,
       arraySymmetricDifference([1, 1, 2], [2, 2, 1]) AS dedup,
       stringCompare('', '') AS c0,
       stringCompare('', 'a') AS c1,
       stringCompare('b', 'a') AS c2,
       stringCompare(CAST(NULL AS STRING), 'a') AS cn1,
       stringCompare('a', CAST(NULL AS STRING)) AS cn2,
       stringCompare(CAST(NULL AS STRING), 'a', 0, 0, 1) AS cn3
""",
        dialect="clickhouse",
    ).collect()[0]
    assert r3.s3 == [1, 3, 4]  # 2 is in all three; the rest in some
    assert r3.dedup == []  # same element sets -> empty
    assert (r3.c0, r3.c1, r3.c2) == (0, -1, 1)
    # NULL propagates (ADVICE r12 #2: the bare CASE used to return 0)
    assert r3.cn1 is None and r3.cn2 is None and r3.cn3 is None


def test_vocab_r40_round13(spark):
    """Round-13 vocabulary batch: tuple arithmetic closure (incl. the
    OrZero/ByNumber variants), byteSlice on multi-byte UTF-8, javaHash/
    hiveHash vs java.lang.String.hashCode values, UUIDToNum variant
    subset, ipv4CIDRToRange edge prefixes, seriesOutliersDetectTukey
    pinned against BOTH ClickHouse documented examples, and
    exponentialMovingAverage pinned against CH's documented ten-ones
    example (1 − 2⁻¹⁰)."""
    import pytest as _pytest

    from clickhouseocp_spark.chsql import ChSqlError, transpile
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
SELECT tupleElement(tupleIntDiv((15, 10), (5, 4)), 2) AS tid,
       tupleElement(tupleIntDivOrZero((15, 10), (5, 0)), 2) AS tidz,
       tupleElement(tupleIntDivByNumber((15, 10), 4), 1) AS tidn,
       tupleElement(tupleModulo((15, 10), (4, 3)), 1) AS tmod,
       tupleElement(tupleMultiplyByNumber((2, 3), 5), 2) AS tmul,
       tupleElement(tupleDivideByNumber((1, 3), 4), 1) AS tdiv,
       byteSlice('héllo', 2, 3) AS bs,
       byteSlice('abcdef', 3) AS bs2,
       countMatchesCaseInsensitive('AbaBA', 'a') AS cmi,
       javaHash('hello') AS jh,
       javaHash('') AS jh0,
       javaHash('Z') AS jh1,
       hiveHash('hello') AS hh,
       hex(UUIDToNum('00112233-4455-6677-8899-aabbccddeeff')) AS u2n,
       toUUIDOrDefault('00112233-4455-6677-8899-AABBCCDDEEFF', 'x') AS ud1,
       toUUIDOrDefault('nope', 'fallback') AS ud2,
       tupleElement(ipv4CIDRToRange('192.168.5.2', 16), 1) AS c16lo,
       tupleElement(ipv4CIDRToRange('192.168.5.2', 16), 2) AS c16hi,
       tupleElement(ipv4CIDRToRange('192.168.5.2', 0), 1) AS c0lo,
       tupleElement(ipv4CIDRToRange('192.168.5.2', 0), 2) AS c0hi,
       tupleElement(ipv4CIDRToRange('192.168.5.2', 32), 1) AS c32lo,
       seriesOutliersDetectTukey(
         [-3, 2, 15, 3, 5, 6, 4, 5, 12, 45, 12, 3, 3, 4, 5, 6]) AS tk,
       seriesOutliersDetectTukey(
         [-3, 2, 15, 3, 5, 6, 4, 5, 12, 45, 12, 3, 3, 4, 5, 6],
         20, 80, 1.5) AS tk2,
       seriesOutliersDetectTukey([1, 2, 3]) AS tkshort
""",
        dialect="clickhouse",
    ).collect()[0]
    assert (r.tid, r.tidz, r.tidn, r.tmod, r.tmul) == (2, 0, 3, 3, 15)
    assert r.tdiv == 0.25
    assert r.bs == "él" and r.bs2 == "cdef"
    assert r.cmi == 3
    # java.lang.String.hashCode("hello") / ("") / ("Z") — published values
    assert (r.jh, r.jh0, r.jh1) == (99162322, 0, 90)
    assert r.hh == 99162322  # sign bit clear; "hello" hash is positive
    assert r.u2n == "00112233445566778899AABBCCDDEEFF"
    assert r.ud1 == "00112233-4455-6677-8899-aabbccddeeff"
    assert r.ud2 == "fallback"
    assert (r.c16lo, r.c16hi) == ("192.168.0.0", "192.168.255.255")
    assert (r.c0lo, r.c0hi) == ("0.0.0.0", "255.255.255.255")
    assert r.c32lo == "192.168.5.2"
    # CH docs, seriesOutliersDetectTukey — both published examples
    assert r.tk == [0, 0, 0, 0, 0, 0, 0, 0, 0, 27.0, 0, 0, 0, 0, 0, 0]
    assert r.tk2 == [0, 0, 0, 0, 0, 0, 0, 0, 0, 19.5, 0, 0, 0, 0, 0, 0]
    assert r.tkshort is None  # < 4 points (CH raises; we NULL — documented)

    # CH docs, exponentialMovingAverage: ten 1s at unit-spaced times with
    # x = 1 → 1 − 2⁻¹⁰ = 0.9990234375
    vals = ", ".join(f"(1.0, {t}.0)" for t in range(1, 11))
    r2 = eng.sql(
        f"SELECT exponentialMovingAverage(1)(v, t) AS e "
        f"FROM VALUES {vals} AS s(v, t)",
        dialect="clickhouse",
    ).collect()[0]
    assert r2.e == 0.9990234375

    with _pytest.raises(ChSqlError, match="variant 1"):
        transpile("SELECT UUIDToNum(u, 2) FROM t")
    with _pytest.raises(ChSqlError, match="equal-arity"):
        transpile("SELECT tupleIntDiv((1, 2), (1, 2, 3)) FROM t")
    with _pytest.raises(ChSqlError, match="hopStart/hopEnd subset"):
        transpile("SELECT hopStart(ts, INTERVAL 12 HOUR) FROM t")


def test_vocab_r41_round13(spark):
    """Round-13 batch 2: sumMap/minMap/maxMap dialect aggregates
    (integer-typed sums, sorted-key tuples), maxIntersections[Position]
    (half-open tie rule: an interval ending exactly where another starts
    does NOT overlap it), exponentialTimeDecayedCount/Sum/Max vs a
    Python replay, angleBetweenVectors (orthogonal → π/2, parallel → 0,
    opposite → π), and approx_top_k/approx_top_count/approx_top_sum
    tuple outputs."""
    import math

    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
SELECT sumMap(ka, va) AS sm,
       minMap(ka, va) AS mnm,
       maxMap(ka, va) AS mxm
FROM VALUES (array('b','a'), array(1, 2)),
            (array('a','c'), array(10, 20)),
            (array('b'), array(100)) AS t(ka, va)
""",
        dialect="clickhouse",
    ).collect()[0]
    assert r.sm.col1 == ["a", "b", "c"] and r.sm.col2 == [12, 101, 20]
    assert r.mnm.col2 == [2, 1, 20] and r.mxm.col2 == [10, 100, 20]
    assert isinstance(r.sm.col2[0], int)  # integer inputs stay integer

    # half-open sweep: [1,3) and [3,5) do NOT overlap (max stays 1);
    # [1,5),[2,3),[4,6) reach 2 first at point 2
    r2 = eng.sql(
        """
SELECT maxIntersections(s, e) AS a,
       maxIntersectionsPosition(s, e) AS ap
FROM VALUES (1, 3), (3, 5) AS t(s, e)
""",
        dialect="clickhouse",
    ).collect()[0]
    assert (r2.a, r2.ap) == (1, 1.0)
    r3 = eng.sql(
        """
SELECT maxIntersections(s, e) AS a,
       maxIntersectionsPosition(s, e) AS ap
FROM VALUES (1, 5), (2, 3), (4, 6) AS t(s, e)
""",
        dialect="clickhouse",
    ).collect()[0]
    assert (r3.a, r3.ap) == (2, 2.0)

    pts = [(0.0, 3.0), (5.0, 7.0), (10.0, 1.0)]
    r4 = eng.sql(
        """
SELECT round(exponentialTimeDecayedCount(10)(t), 9) AS c,
       round(exponentialTimeDecayedSum(10)(v, t), 9) AS s,
       round(exponentialTimeDecayedMax(10)(v, t), 9) AS m
FROM VALUES (0.0, 3.0), (5.0, 7.0), (10.0, 1.0) AS t(t, v)
""",
        dialect="clickhouse",
    ).collect()[0]
    T = max(t for t, _ in pts)
    assert r4.c == round(sum(math.exp(-(T - t) / 10) for t, _ in pts), 9)
    # exact equality against the sorted-fold replay — no or-tolerance
    # fallback masking a fold-order regression (r13 ADVICE)
    s_replay = 0.0
    for t, v in sorted(pts):
        s_replay = s_replay + v * math.exp(-(T - t) / 10)
    assert r4.s == round(s_replay, 9)

    # all-NULL group → NULL, not the fold seed (-Inf / 0.0) — r13 ADVICE
    rn = eng.sql(
        """
SELECT exponentialTimeDecayedCount(10)(t) AS c,
       exponentialTimeDecayedSum(10)(v, t) AS s,
       exponentialTimeDecayedMax(10)(v, t) AS m
FROM VALUES (CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)),
            (CAST(NULL AS DOUBLE), 1.0) AS t(t, v)
""",
        dialect="clickhouse",
    ).collect()[0]
    assert rn.c is None and rn.s is None and rn.m is None
    assert r4.m == round(
        max(v * math.exp(-(T - t) / 10) for t, v in pts), 9
    )

    r5 = eng.sql(
        """
SELECT round(angleBetweenVectors([1.0, 0.0], [0.0, 2.0]), 9) AS orth,
       round(angleBetweenVectors([1.0, 1.0], [2.0, 2.0]), 6) AS par,
       round(angleBetweenVectors([1.0, 0.0], [-3.0, 0.0]), 9) AS opp,
       approx_top_count(2)(c) AS atc,
       approx_top_sum(2)(c, w) AS ats
FROM VALUES ('x', 1), ('x', 1), ('y', 5), ('z', 1), ('x', 1), ('y', 1)
  AS t(c, w)
""",
        dialect="clickhouse",
    ).collect()[0]
    assert r5.orth == round(math.pi / 2, 9)
    assert r5.par == 0.0
    assert r5.opp == round(math.pi, 9)
    assert [(e.item, e["count"], e.error) for e in r5.atc] == [
        ("x", 3, 0), ("y", 2, 0)
    ]
    assert [(e.item, e["count"], e.error) for e in r5.ats] == [
        ("y", 6, 0), ("x", 3, 0)
    ]


def test_round13_randomized_hardening(spark):
    """Seeded-random batteries for the round-13 tier, each against an
    independent Python replay: seriesOutliersDetectTukey (the n·p/100
    quantile rule + fences on 40 random series), javaHash/hiveHash
    (ASCII strings vs java.lang.String.hashCode semantics), sumMap
    (random key/value array rows vs a dict fold), and
    maxIntersections[Position] (random interval sets vs a Python
    sweep with the half-open tie rule)."""
    import math
    import random

    from clickhouseocp_spark.engine import ChSparkEngine

    rng = random.Random(1313)
    eng = ChSparkEngine("/root/testdata/sf0.001", spark)

    # --- Tukey ---
    def py_q(sa, p):
        np_ = len(sa) * p / 100.0
        i = int(np_)
        if np_ == math.floor(np_) and i >= 1:
            return (sa[i - 1] + sa[min(i, len(sa) - 1)]) / 2.0
        return sa[max(1, math.ceil(np_)) - 1]

    def py_tukey(xs, pmin, pmax, k):
        sa = sorted(float(x) for x in xs)
        q1, q3 = py_q(sa, pmin), py_q(sa, pmax)
        lo, hi = q1 - k * (q3 - q1), q3 + k * (q3 - q1)
        return [
            round(lo - v, 6) if v < lo else round(v - hi, 6) if v > hi
            else 0.0
            for v in (float(x) for x in xs)
        ]

    series = [
        [rng.randint(-50, 200) for _ in range(rng.randint(4, 25))]
        for _ in range(40)
    ]
    sel = ", ".join(
        f"transform(seriesOutliersDetectTukey(array("
        f"{', '.join(str(v) for v in s)}), {pmin}, {pmax}, {k}), "
        f"__x -> round(__x, 6)) AS t{i}"
        for i, (s, (pmin, pmax, k)) in enumerate(
            (s, rng.choice([(25, 75, 1.5), (20, 80, 1.5), (10, 90, 2.0),
                            (30, 70, 1.0)]))
            for s in series
        )
    )
    row = eng.sql(f"SELECT {sel}", dialect="clickhouse").collect()[0]
    rng2 = random.Random(1313)
    series2 = [
        [rng2.randint(-50, 200) for _ in range(rng2.randint(4, 25))]
        for _ in range(40)
    ]
    for i, s in enumerate(series2):
        pmin, pmax, k = rng2.choice(
            [(25, 75, 1.5), (20, 80, 1.5), (10, 90, 2.0), (30, 70, 1.0)]
        )
        assert row[f"t{i}"] == py_tukey(s, pmin, pmax, k), (i, s)

    # --- javaHash / hiveHash (ASCII) ---
    def py_java(s):
        h = 0
        for b in s.encode():
            h = (h * 31 + b) & 0xFFFFFFFF
        return h - (1 << 32) if h >= (1 << 31) else h

    words = [
        "".join(rng.choice("abcdefgXYZ0123 _-!") for _ in range(rng.randint(0, 30)))
        for _ in range(60)
    ]
    sel = ", ".join(
        f"javaHash('{w}') AS j{i}, hiveHash('{w}') AS h{i}"
        for i, w in enumerate(words)
    )
    row = eng.sql(f"SELECT {sel}", dialect="clickhouse").collect()[0]
    for i, w in enumerate(words):
        jh = py_java(w)
        assert row[f"j{i}"] == jh
        assert row[f"h{i}"] == jh & 0x7FFFFFFF

    # --- sumMap / minMap / maxMap over random rows ---
    rows = [
        (
            [rng.choice("abcde") for _ in range(rng.randint(1, 4))],
        )
        for _ in range(30)
    ]
    rows = [
        (ks, [rng.randint(-100, 100) for _ in ks]) for (ks,) in rows
    ]
    vals = ", ".join(
        "(array({}), array({}))".format(
            ", ".join(f"'{k}'" for k in ks), ", ".join(str(v) for v in vs)
        )
        for ks, vs in rows
    )
    r = eng.sql(
        f"SELECT sumMap(ka, va) AS sm, minMap(ka, va) AS mn, "
        f"maxMap(ka, va) AS mx FROM VALUES {vals} AS t(ka, va)",
        dialect="clickhouse",
    ).collect()[0]
    agg: dict = {}
    for ks, vs in rows:
        for k, v in zip(ks, vs):
            s0, mn0, mx0 = agg.get(k, (0, None, None))
            agg[k] = (
                s0 + v,
                v if mn0 is None else min(mn0, v),
                v if mx0 is None else max(mx0, v),
            )
    keys = sorted(agg)
    assert r.sm.col1 == keys and r.sm.col2 == [agg[k][0] for k in keys]
    assert r.mn.col2 == [agg[k][1] for k in keys]
    assert r.mx.col2 == [agg[k][2] for k in keys]

    # --- maxIntersections sweep ---
    for trial in range(5):
        ivs = []
        for _ in range(rng.randint(2, 40)):
            s0 = rng.randint(0, 60)
            ivs.append((s0, s0 + rng.randint(1, 15)))
        evts = sorted(
            [(float(s0), 1) for s0, _ in ivs] + [(float(e0), -1) for _, e0 in ivs],
            key=lambda pe: (pe[0], pe[1]),
        )
        c = mx = 0
        pos = None
        for p, d in evts:
            c += d
            if c > mx:
                mx, pos = c, p
        vals = ", ".join(f"({s0}, {e0})" for s0, e0 in ivs)
        r = eng.sql(
            f"SELECT maxIntersections(s, e) AS a, "
            f"maxIntersectionsPosition(s, e) AS p "
            f"FROM VALUES {vals} AS t(s, e)",
            dialect="clickhouse",
        ).collect()[0]
        assert (r.a, r.p) == (mx, pos), (trial, ivs)


def test_ipv6_tier_randomized(spark):
    """IPv6StringToNum/IPv6NumToString/cutIPv6 + the MappedArrays
    aliases (sumMappedArrays/minMappedArrays/maxMappedArrays): 60
    seeded-random addresses through the roundtrip
    render(parse(render(parse(s)))) — idempotence is the render
    certificate — plus pinned RFC 5952 cases (first-longest zero run,
    ≥2-group rule, all-zero, mapped, single-zero NOT compressed) and a
    Python-replay cross-check of the render from raw bytes."""
    import random

    from clickhouseocp_spark.engine import ChSparkEngine

    def py_render(groups):
        # ground truth is glibc inet_ntop itself — the SQL render must
        # match it bit-for-bit, INCLUDING the IPv4-compatible mixed
        # notation ('::1.2.3.4') the old hand-replica missed (r13 ADVICE)
        import socket

        return socket.inet_ntop(
            socket.AF_INET6,
            b"".join(g.to_bytes(2, "big") for g in groups),
        )

    rng = random.Random(4242)
    cases = []
    for _ in range(60):
        groups = [
            rng.choice([0, 0, 0, rng.randint(1, 0xFFFF)]) for _ in range(8)
        ]
        cases.append(groups)
    cases += [
        [0] * 8,                               # ::
        [0, 0, 0, 0, 0, 0xFFFF, 0xC0A8, 0x0507],  # mapped
        [1, 0, 2, 0, 0, 3, 0, 4],              # single zeros + one run
        [0xFE80, 0, 0, 1, 0, 0, 0, 1],         # later run longer
        [0, 0, 0, 0, 0, 0, 0x0102, 0x0304],    # IPv4-compatible ::1.2.3.4
        [0, 0, 0, 0, 0, 0, 5, 0],              # compat ::0.5.0.0
        [0, 0, 0, 0, 0, 0, 0, 2],              # len-7 run stays hex ::2
        [0, 0, 0, 0, 0, 0, 0, 0x0102],         # len-7 run ::102 (no dots)
        [0, 0, 0, 0, 0, 0xFFFF, 0, 0],         # ::ffff:0.0.0.0
    ]
    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    sel = ", ".join(
        f"IPv6NumToString(unhex('{''.join(format(g, '04x') for g in gs)}'))"
        f" AS r{i}"
        for i, gs in enumerate(cases)
    )
    row = eng.sql(f"SELECT {sel}", dialect="clickhouse").collect()[0]
    for i, gs in enumerate(cases):
        assert row[f"r{i}"] == py_render(gs), (i, gs)

    # roundtrip idempotence through the parser
    sel2 = ", ".join(
        f"IPv6NumToString(IPv6StringToNum("
        f"IPv6NumToString(unhex('{''.join(format(g, '04x') for g in gs)}'))"
        f")) AS r{i}"
        for i, gs in enumerate(cases[:20])
    )
    row2 = eng.sql(f"SELECT {sel2}", dialect="clickhouse").collect()[0]
    for i, gs in enumerate(cases[:20]):
        assert row2[f"r{i}"] == py_render(gs), (i, gs)

    # single zero group is NOT compressed (RFC 5952)
    one = eng.sql(
        "SELECT IPv6NumToString(IPv6StringToNum('1:2:3:0:5:6:7:8')) AS x",
        dialect="clickhouse",
    ).collect()[0]
    assert one.x == "1:2:3:0:5:6:7:8"

    # MappedArrays aliases == the Map aggregates
    r = eng.sql(
        """
SELECT sumMappedArrays(ka, va) AS s, minMappedArrays(ka, va) AS mn,
       maxMappedArrays(ka, va) AS mx
FROM VALUES (array('a','b'), array(1, 2)),
            (array('b'), array(7)) AS t(ka, va)
""",
        dialect="clickhouse",
    ).collect()[0]
    assert r.s.col1 == ["a", "b"] and r.s.col2 == [1, 9]
    assert r.mn.col2 == [1, 2] and r.mx.col2 == [1, 7]


def test_polygon_tier_round14(spark):
    """Cartesian polygon tier: pointInPolygon ray casting against a
    shapely-free Python replay over a random point cloud + the CH doc
    examples; area/perimeter incl. holes; readWKT* parsing."""
    import random

    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
SELECT pointInPolygon((3., 3.), [(6, 0), (8, 4), (5, 8), (0, 2)]) AS a,
       pointInPolygon((10., 10.), [(6, 0), (8, 4), (5, 8), (0, 2)]) AS b,
       pointInPolygon((2., 2.), [(0, 0), (10, 0), (10, 10), (0, 10)],
                      [(1, 1), (3, 1), (3, 3), (1, 3)]) AS hole,
       polygonAreaCartesian([[(0., 0.), (0., 5.), (5., 5.)]]) AS area,
       polygonPerimeterCartesian([[(0., 0.), (0., 5.), (5., 5.)]]) AS per,
       tupleElement(readWKTPoint('POINT (1.5 -2)'), 1) AS wx,
       size(readWKTLineString('LINESTRING (1 1, 2 2, 3 3)')) AS ln,
       size(readWKTPolygon(
         'POLYGON ((0 0, 0 5, 5 5, 0 0), (1 1, 2 1, 2 2, 1 2))')) AS pr
""",
        dialect="clickhouse",
    ).collect()[0]
    assert (r.a, r.b, r.hole) == (1, 0, 0)
    assert r.area == 12.5 and abs(r.per - 17.071067811865476) < 1e-12
    assert r.wx == 1.5 and r.ln == 3 and r.pr == 2

    # randomized ray-cast battery vs an independent Python replay
    rng = random.Random(1414)
    poly = [(6.0, 0.0), (8.0, 4.0), (5.0, 8.0), (0.0, 2.0)]

    def py_inside(px, py):
        n, c = len(poly), 0
        for i in range(n):
            x1, y1 = poly[i]
            x2, y2 = poly[(i + 1) % n]
            if (y1 > py) != (y2 > py) and px < x1 + (py - y1) * (x2 - x1) / (y2 - y1):
                c += 1
        return c % 2

    pts = [(round(rng.uniform(-2, 10), 3), round(rng.uniform(-2, 10), 3))
           for _ in range(60)]
    sel = ", ".join(
        f"pointInPolygon(({px!r}, {py!r}), "
        f"[(6., 0.), (8., 4.), (5., 8.), (0., 2.)]) AS p{i}"
        for i, (px, py) in enumerate(pts)
    )
    row = eng.sql(f"SELECT {sel}", dialect="clickhouse").collect()[0]
    for i, (px, py) in enumerate(pts):
        assert row[f"p{i}"] == py_inside(px, py), (i, px, py)


def test_h3_constants_round14(spark):
    """h3 constant tier: table lookups, OOB → NULL, res-0/pentagon index
    bit layout (known anchors: res0 cell0 = 0x8001fffffffffff, pentagon
    res0 cell4 = 0x8009fffffffffff-style construction)."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
SELECT h3HexAreaKm2(0) AS a0, h3HexAreaM2(15) AS m15,
       h3EdgeLengthKm(10) AS e10, h3EdgeLengthM(0) AS em0,
       h3HexAreaKm2(16) AS oob,
       hex(arrayElement(h3GetRes0Indexes(), 1)) AS r0,
       size(h3GetRes0Indexes()) AS n0,
       hex(arrayElement(h3GetPentagonIndexes(0), 1)) AS p0,
       hex(arrayElement(h3GetPentagonIndexes(5), 12)) AS p5,
       h3GetPentagonIndexes(99) AS pbad
""",
        dialect="clickhouse",
    ).collect()[0]
    assert r.a0 == 4250546.848 and r.m15 == 0.9
    assert r.e10 == 0.065907807 and r.em0 == 1107712.591
    assert r.oob is None and r.pbad is None
    assert r.r0 == "8001FFFFFFFFFFF" and r.n0 == 122
    # pentagon base cell 4 at res 0: digits all 7
    assert r.p0 == hex((1 << 59) | (4 << 45) | ((1 << 45) - 1))[2:].upper()
    # res 5, base cell 117: first 5 digits 0, remaining 10 digits 7
    assert r.p5 == hex(
        (1 << 59) | (5 << 52) | (117 << 45) | ((1 << 30) - 1)
    )[2:].upper()


def test_string_tier_round14(spark):
    """r43 string tier: soundex classic anchors + H/W transparency,
    CH-rule initcap vs Spark's whitespace rule, translate passthrough,
    simpleJSON/visitParam closure, moving aggregates (ordering pinned
    on a single sorted VALUES partition), groupArrayInsertAt."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
SELECT soundex('Robert') AS s1, soundex('Rupert') AS s2,
       soundex('Ashcraft') AS s3, soundex('Tymczak') AS s4,
       soundex('Pfister') AS s5, soundex('Honeyman') AS s6,
       soundex('a1k2s3el') AS s7, soundex('123') AS s8,
       initcap('foo-bar_baz 3abc') AS ic,
       initcapUTF8('héllo wörld-ñato') AS icu,
       translate('abca', 'ac', 'xz') AS tr,
       translateUTF8('abca', 'ac', 'xz') AS tru,
       dayName(toDate('2026-08-16')) AS dn,
       toUUIDOrZero('zz') AS uz,
       multiSearchAnyCaseInsensitive('Hello World', ['WORLD']) AS ms,
       round(stringJaccardIndexUTF8('abc', 'abd'), 6) AS sj
""",
        dialect="clickhouse",
    ).collect()[0]
    assert (r.s1, r.s2, r.s3, r.s4) == ("R163", "R163", "A261", "T522")
    assert (r.s5, r.s6) == ("P236", "H555")
    assert r.s7 == "A240" and r.s8 == ""  # digits transparent to codes
    assert r.ic == "Foo-Bar_Baz 3abc"
    assert r.icu == "Héllo Wörld-Ñato"
    assert r.tr == "xbzx" and r.tru == "xbzx"
    assert r.dn == "Sunday"
    assert r.uz == "00000000-0000-0000-0000-000000000000"
    assert r.ms == 1 and r.sj == 0.5

    r2 = eng.sql(
        """
SELECT simpleJSONExtractFloat(j, 'x') AS f,
       simpleJSONExtractUInt(j, 'u') AS u,
       simpleJSONExtractInt(j, 'u') AS i,
       simpleJSONExtractBool(j, 'b') AS b,
       simpleJSONExtractBool(j, 'x') AS nb,
       simpleJSONExtractRaw(j, 'o') AS raw,
       simpleJSONExtractRaw(j, 'nope') AS rmiss,
       visitParamHas(j, 'x') AS h,
       visitParamExtractString(j, 's') AS vs,
       visitParamExtractInt(j, 'u') AS vi,
       visitParamExtractFloat(j, 'x') AS vf,
       visitParamExtractBool(j, 'b') AS vb,
       visitParamExtractRaw(j, 'o') AS vraw,
       visitParamExtractUInt(j, 'u') AS vu
FROM VALUES ('{"x": 1.5, "u": 7, "b": true, "o": {"k": 1}, "s": "hi"}')
  AS t(j)
""",
        dialect="clickhouse",
    ).collect()[0]
    assert r2.f == 1.5 and r2.u == 7 and r2.i == 7 and r2.b == 1
    assert r2.nb == 0 and r2.raw == '{"k":1}' and r2.rmiss == ""
    assert r2.h and r2.vs == "hi" and r2.vi == 7 and r2.vf == 1.5
    assert r2.vb == 1 and r2.vraw == '{"k":1}' and r2.vu == 7

    # moving aggregates over a sorted single-partition VALUES relation:
    # insertion order == sort order here, pinning the window semantics
    r3 = eng.sql(
        """
SELECT groupArrayMovingSum(v) AS ms,
       groupArrayMovingSum(2)(v) AS ms2,
       groupArrayMovingAvg(2)(v) AS ma2,
       groupArrayInsertAt(s, p) AS ia
FROM (SELECT * FROM VALUES (1, 'a', 0), (2, 'b', 3), (3, 'c', 1)
      AS t(v, s, p) ORDER BY v)
""",
        dialect="clickhouse",
    ).collect()[0]
    assert list(r3.ms) == [1, 3, 6]
    assert list(r3.ms2) == [1, 3, 5]
    assert list(r3.ma2) == [0.5, 1.5, 2.5]  # partial head: 1/2
    assert list(r3.ia) == ["a", "c", None, "b"]

    # r14 ADVICE: DOUBLE inputs must analyze — the fold accumulator is
    # seeded element-typed (__a[1] * 0L), not a hardcoded BIGINT
    r4 = eng.sql(
        """
SELECT groupArrayMovingSum(v) AS ms,
       groupArrayMovingSum(2)(v) AS ms2,
       groupArrayMovingAvg(2)(v) AS ma2
FROM (SELECT * FROM VALUES (CAST(1.5 AS DOUBLE)), (CAST(2.5 AS DOUBLE)),
      (CAST(4.0 AS DOUBLE)) AS t(v) ORDER BY v)
""",
        dialect="clickhouse",
    ).collect()[0]
    assert list(r4.ms) == [1.5, 4.0, 8.0]
    assert list(r4.ms2) == [1.5, 4.0, 6.5]
    assert list(r4.ma2) == [0.75, 2.0, 3.25]


def test_nlp_detect_round14(spark):
    """NLP detect tier: marker-lexicon sync with functions/text.py,
    argmax tie rule, mixed shares, charset split, programming-language
    keyword scoring, lemmatize rules + irregulars."""
    from clickhouseocp_spark.chsql import _NLP_LANGS
    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.functions.text import LANG_MARKERS

    assert dict(_NLP_LANGS) == dict(LANG_MARKERS)

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
SELECT detectLanguage('the value of the table') AS en,
       detectLanguage('der und die das ist') AS de,
       detectLanguage('qqq zzz') AS un,
       detectLanguage('the la') AS tie,
       detectLanguageMixed('the table el que')['en'] AS mx_en,
       detectLanguageMixed('qqq')['un'] AS mx_un,
       detectCharset('ascii only') AS c1,
       detectCharset('naïve') AS c2,
       detectProgrammingLanguage('#include <vector> std::sort') AS cpp,
       detectProgrammingLanguage('select a from b where c') AS sql_l,
       detectProgrammingLanguage('plain prose') AS und,
       lemmatize('en', 'Mice') AS l1, lemmatize('en', 'berries') AS l2,
       lemmatize('en', 'boxes') AS l3, lemmatize('en', 'glasses') AS l4,
       lemmatize('en', 'bus') AS l5, lemmatize('en', 'running') AS l6,
       lemmatize('de', 'Tische') AS l7
""",
        dialect="clickhouse",
    ).collect()[0]
    assert (r.en, r.de, r.un) == ("en", "de", "un")
    # 'the' (en) vs 'la' (es+fr): one hit each — earliest language wins
    assert r.tie == "en"
    assert r.mx_en == 0.5 and r.mx_un == 1.0
    assert (r.c1, r.c2) == ("US-ASCII", "UTF-8")
    assert (r.cpp, r.sql_l, r.und) == ("C++", "SQL", "Undefined")
    assert (r.l1, r.l2, r.l3) == ("mouse", "berry", "box")
    assert (r.l4, r.l5, r.l6) == ("glass", "bus", "running")
    assert r.l7 == "Tische"  # non-en passthrough


def test_vocab_r45_round14(spark):
    """r45 tranche: introspection constants (session-pinned values),
    overlay's negative-offset rule (incl. the UTF8 alias), interval
    constructors down to nanoseconds (µs truncation documented), map
    quantifier lambdas with literal masking, extractKeyValuePairs
    delimiter-noise collapse, and subtractQuarters round-trip."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
SELECT timeZone() AS tz, serverTimeZone() AS stz,
       displayName() AS dn, getOSKernelVersion() AS osk,
       arrayStringConcat(defaultRoles(), ',') AS dr,
       arrayStringConcat(enabledRoles(), ',') AS er,
       arrayStringConcat(currentProfiles(), ',') AS cp,
       arrayStringConcat(enabledProfiles(), ',') AS ep,
       overlayUTF8('Spark SQL', 'ANSI', 7, 3) AS ovu,
       overlay('Hello', 'Z', -1) AS ovn,
       toString(subtractQuarters(
           addQuarters(toDateTime('2024-01-15 10:00:00'), 3), 3)) AS qq,
       toString(toDateTime('2024-01-15 10:00:00')
                + toIntervalNanosecond(1500000000)) AS ns,
       toString(toDateTime('2024-01-15 10:00:00')
                + toIntervalNanosecond(999)) AS ns0,
       mapExists((k, v) -> concat(k, 'k') = 'ak', map('a', 1)) AS mek,
       element_at(extractKeyValuePairs('a:1,,  b:2'), 'b') AS ekv
""",
        dialect="clickhouse",
    ).collect()[0]
    assert r.tz == "UTC" and r.stz == "UTC"
    assert r.dn == "localhost" and r.osk == "Linux"
    assert r.dr == r.er == r.cp == r.ep == "default"
    assert r.ovu == "Spark ANSI"
    assert r.ovn == "HellZ"
    assert r.qq == "2024-01-15 10:00:00"
    assert r.ns == "2024-01-15 10:00:01.5"
    assert r.ns0 == "2024-01-15 10:00:00"  # sub-µs truncates, never rounds
    assert r.mek is True
    assert r.ekv == "2"


def test_vocab_r46_encoding_tier(spark):
    """r46 encoding tier, value-pinned against Python ground truth
    (base64.b32encode / html entities / java String.hashCode):
    RFC 4648 base32 test vectors both directions, entity codecs incl.
    decimal + hex numeric references above U+00FF (the UTF-32 route —
    char() wraps at 256), reinterpret little-endian loads, and
    javaHashUTF16LE incl. an astral surrogate-pair contribution."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
SELECT base32Encode('') AS e0, base32Encode('f') AS e1,
       base32Encode('fo') AS e2, base32Encode('foo') AS e3,
       base32Encode('foob') AS e4, base32Encode('fooba') AS e5,
       base32Encode('foobar') AS e6,
       base32Decode('MZXW6===') AS d3, base32Decode('MY======') AS d1,
       base32Decode(base32Encode('The quick brown fox')) AS drt,
       tryBase32Decode('@@@') AS dbad,
       tryBase32Decode('MZXW6YTB') AS dok,
       tryBase32Decode('A=======') AS dr1,
       tryBase32Decode('AAA=====') AS dr3,
       tryBase32Decode('AAAAAA==') AS dr6,
       encodeXMLComponent('a<b & ''c''') AS xe,
       decodeXMLComponent('&lt;&amp;&#65;&#x42;&bogus;&gt') AS xd,
       decodeHTMLComponent('&euro;&nbsp;&hellip;&#8212;') AS hd,
       extractTextFromHTML(
         '<p>A <b>B</b></p><!--x--><style>s</style><script>j<k</script> C')
         AS ht,
       extractTextFromHTML('a <![CDATA[kept]]> b') AS htc,
       reinterpretAsUInt8('Az') AS r8, reinterpretAsUInt16('Az') AS r16,
       reinterpretAsUInt32('Az') AS r32,
       reinterpretAsUInt64('abcd') AS r64,
       reinterpretAsString(16706) AS rs, reinterpretAsString(0) AS rs0,
       javaHashUTF16LE('') AS j0, javaHashUTF16LE('abc') AS ja,
       javaHashUTF16LE('hello world') AS jw,
       javaHashUTF16LE('€') AS je, javaHashUTF16LE('𐍈') AS js
""",
        dialect="clickhouse",
    ).collect()[0]
    assert (r.e0, r.e1, r.e2, r.e3) == ("", "MY======", "MZXQ====", "MZXW6===")
    assert (r.e4, r.e5, r.e6) == ("MZXW6YQ=", "MZXW6YTB", "MZXW6YTBOI======")
    assert r.d3 == "foo" and r.d1 == "f" and r.drt == "The quick brown fox"
    assert r.dbad is None and r.dok == "fooba"
    # r14 ADVICE: stripped lengths with remainder 1/3/6 cannot carry a
    # whole byte count — must NULL, not decode garbage via a descending
    # sequence(0,-1)
    assert r.dr1 is None and r.dr3 is None and r.dr6 is None
    assert r.xe == "a&lt;b &amp; &apos;c&apos;"
    assert r.xd == "<&AB&bogus;&gt"
    assert r.hd == "€ …—"
    assert r.ht == "A B C" and r.htc == "a kept b"
    assert r.r8 == 65 and r.r16 == 65 + 122 * 256 == r.r32
    assert r.r64 == 97 + 98 * 256 + 99 * 65536 + 100 * 16777216
    assert r.rs == "BA" and r.rs0 == ""
    # java.lang.String.hashCode pins ("abc".hashCode() == 96354, etc.);
    # the astral char folds as its two surrogates: 55296+13, 56320+328
    assert (r.j0, r.ja, r.jw) == (0, 96354, 1794106052)
    assert r.je == 8364
    # U+10348 → surrogates (0xD800, 0xDC00 + 0x348): 55296·31 + 57160
    assert r.js == 55296 * 31 + 57160 == 1771336


def test_vocab_r47_ip_closure(spark):
    """r47 IP closure: Or-variant semantics (Null/Zero/Default), the
    dotted→mapped toIPv6 path, isIPAddressInRange families incl. the
    non-nibble-aligned /22 and /49 prefixes, family mismatch and
    malformed CIDR → 0."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
SELECT toIPv4OrNull('300.1.1.1') AS n4,
       toIPv4OrZero('bad') AS z4,
       IPv4NumToString(toIPv4OrDefault('bad', toIPv4('10.0.0.1'))) AS d4,
       toIPv6OrNull('junk') AS n6,
       IPv6NumToString(toIPv6OrZero('junk')) AS z6,
       IPv6NumToString(toIPv6OrDefault('junk', toIPv6('::1'))) AS d6,
       IPv6NumToString(toIPv6('192.168.0.1')) AS m6,
       isIPAddressInRange('192.168.5.1', '192.168.4.0/22') AS r22a,
       isIPAddressInRange('192.168.8.1', '192.168.4.0/22') AS r22b,
       isIPAddressInRange('2001:db8:85a3::8a2e', '2001:db8:85a3::/49') AS r49a,
       isIPAddressInRange('2001:db8:85a3:8000::1', '2001:db8:85a3::/49') AS r49b,
       isIPAddressInRange('10.0.0.5', '0.0.0.0/0') AS r0,
       isIPAddressInRange('10.0.0.1', '::/0') AS fam,
       isIPAddressInRange('10.0.0.1', 'nocidr') AS badc,
       pointInEllipses(10., 10., 10., 9.5, 1., 1.) AS pe1,
       pointInEllipses(10., 10., 10., 8.5, 1., 1.) AS pe0,
       wkt((1.5, 2.)) AS wp
""",
        dialect="clickhouse",
    ).collect()[0]
    assert r.n4 is None and r.z4 == 0 and r.d4 == "10.0.0.1"
    assert r.n6 is None and r.z6 == "::" and r.d6 == "::1"
    assert r.m6 == "::ffff:192.168.0.1"
    assert (r.r22a, r.r22b) == (1, 0)
    assert (r.r49a, r.r49b) == (1, 0)
    assert r.r0 == 1
    # '10.0.0.1' vs '::/0': the v6 branch canonicalizes the dotted quad
    # to ::ffff:10.0.0.1, which IS in ::/0 — CH agrees (implicit cast)
    assert r.fam == 1
    assert r.badc == 0
    assert (r.pe1, r.pe0) == (1, 0)
    assert r.wp == "POINT(1.5 2)"


def test_vocab_r48_array_edit_distance(spark):
    """r48 DP folds vs an independent Python replay on randomized
    arrays (seeded), plus the documented CH doc examples and the empty/
    weighted edge cases."""
    import random

    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)

    def pylev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    def pywlev(f, t, fw, tw):
        prev = [0.0]
        for j in range(1, len(t) + 1):
            prev.append(prev[-1] + tw[j - 1])
        for i in range(1, len(f) + 1):
            cur = [prev[0] + fw[i - 1]]
            for j in range(1, len(t) + 1):
                cur.append(min(
                    prev[j] + fw[i - 1], cur[j - 1] + tw[j - 1],
                    prev[j - 1]
                    + (0 if f[i - 1] == t[j - 1] else fw[i - 1] + tw[j - 1])))
            prev = cur
        return prev[-1]

    rng = random.Random(48)
    for _ in range(6):
        f = [rng.randrange(5) for _ in range(rng.randrange(1, 7))]
        t = [rng.randrange(5) for _ in range(rng.randrange(1, 7))]
        fw = [round(rng.uniform(0.5, 3.0), 2) for _ in f]
        tw = [round(rng.uniform(0.5, 3.0), 2) for _ in t]
        fl = "[" + ",".join(str(x) for x in f) + "]"
        tl = "[" + ",".join(str(x) for x in t) + "]"
        fwl = "[" + ",".join(repr(x) for x in fw) + "]"
        twl = "[" + ",".join(repr(x) for x in tw) + "]"
        r = eng.sql(
            f"SELECT arrayLevenshteinDistance({fl}, {tl}) AS lev, "
            f"round(arrayLevenshteinDistanceWeighted({fl}, {tl}, {fwl}, "
            f"{twl}), 9) AS wl, "
            f"round(arraySimilarity({fl}, {tl}, {fwl}, {twl}), 9) AS sim",
            dialect="clickhouse",
        ).collect()[0]
        assert r.lev == pylev(f, t), (f, t)
        assert r.wl == round(pywlev(f, t, fw, tw), 9), (f, t, fw, tw)
        assert r.sim == round(
            1 - pywlev(f, t, fw, tw) / (sum(fw) + sum(tw)), 9)
    r = eng.sql(
        "SELECT arrayLevenshteinDistance([1,2,3,4], [1,3,2,4]) AS a, "
        "arrayLevenshteinDistance(arraySlice([1], 1, 0), [9]) AS b, "
        "arraySimilarity(arraySlice([1], 1, 0), arraySlice([1], 1, 0), "
        "arraySlice([1.], 1, 0), arraySlice([1.], 1, 0)) AS c",
        dialect="clickhouse",
    ).collect()[0]
    assert (r.a, r.b, r.c) == (2, 1, 1.0)


def test_vocab_r49_closers(spark):
    """r49 closers not exercised by the registry query: ascii/space,
    the UTF8 left/right aliases, notILike, isValidUTF8/sumWithOverflow,
    splitByAlphaTokens, extractAllGroups (vertical alias),
    groupArrayLast over a sorted single partition, the MySQL AES pair,
    the RFC subdomain aliases, YYYYMMDDhhmmssToDateTime64."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
SELECT ascii('A') AS a, space(2) AS sp,
       leftUTF8('héllo', 2) AS lu, rightUTF8('héllo', -1) AS ru,
       CAST(notILike('HeLLo', 'x%') AS INT) AS nil,
       isValidUTF8('ok') AS iv,
       arrayStringConcat(splitByAlphaTokens('ab.cd!ef'), ',') AS sat,
       arrayStringConcat(arrayMap(g -> arrayStringConcat(g, ':'),
         extractAllGroups('a=1, b=2', '(\\\\w+)=(\\\\d+)')), ';') AS eag,
       toString(YYYYMMDDhhmmssToDateTime64(20240102030405)) AS dt64,
       aes_decrypt_mysql('aes-128-ecb',
         aes_encrypt_mysql('aes-128-ecb', 'mm', '1234567890123456'),
         '1234567890123456') AS mrt,
       firstSignificantSubdomainRFC('https://a.b.example.co.uk/x') AS fsd,
       cutToFirstSignificantSubdomainRFC('https://a.b.example.co.uk/x')
         AS cfsd,
       topLevelDomainRFC('https://a.b.example.com/x') AS tld
""",
        dialect="clickhouse",
    ).collect()[0]
    assert r.a == 65 and r.sp == "  "
    assert r.lu == "hé" and r.ru == "éllo"
    assert r.nil == 1 and r.iv == 1
    assert r.sat == "ab,cd,ef"
    assert r.eag == "a:1;b:2"
    assert r.dt64 == "2024-01-02 03:04:05"
    assert r.mrt == "mm"
    assert r.fsd == "example" and r.cfsd == "example.co.uk"
    assert r.tld == "com"
    agg = eng.sql(
        "SELECT sumWithOverflow(n) AS s, "
        "arrayStringConcat(arrayMap(x -> toString(x), groupArrayLast(3)(n)),"
        " ',') AS gal "
        "FROM (SELECT number AS n FROM numbers(7) ORDER BY n)",
        dialect="clickhouse",
    ).collect()[0]
    assert agg.s == 21 and agg.gal == "4,5,6"


def test_lttb_round14(spark):
    """largestTriangleThreeBuckets(n)(x, y) vs an independent Python
    LTTB (canonical Steinarsson bucketing) on seeded random series,
    small-N passthrough, and the lttb alias."""
    import random

    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)

    def pylttb(pts, n):
        N = len(pts)
        if N <= n:
            return pts
        size = (N - 2) / (n - 2)
        sel = [0]
        for i in range(n - 2):
            bs = int(i * size) + 1
            bend = int((i + 1) * size) + 1
            ne = min(int((i + 2) * size) + 1 if i < n - 3 else N, N)
            cnt = max(1, ne - bend)
            ax = sum(p[0] for p in pts[bend:ne]) / cnt
            ay = sum(p[1] for p in pts[bend:ne]) / cnt
            px, py = pts[sel[-1]]
            best, barea = bs, -1.0
            for j in range(bs, bend):
                area = abs((px - ax) * (pts[j][1] - py)
                           - (px - pts[j][0]) * (ay - py))
                if area > barea:
                    barea, best = area, j
            sel.append(best)
        sel.append(N - 1)
        return [pts[i] for i in sel]

    rng = random.Random(14)
    for npts, k in [(41, 7), (25, 3), (9, 12), (60, 20)]:
        pts = sorted(
            (round(rng.uniform(0, 50), 2), round(rng.uniform(-5, 5), 2))
            for _ in range(npts)
        )
        want = pylttb(pts, k)
        xs = ",".join(repr(p[0]) for p in pts)
        ys = ",".join(repr(p[1]) for p in pts)
        r = eng.sql(
            f"SELECT arrayStringConcat(arrayMap(t -> concat("
            f"toString(tupleElement(t, 1)), ':', "
            f"toString(tupleElement(t, 2))), "
            f"lttb({k})(x, y)), ' ') AS s "
            f"FROM (SELECT arrayElement([{xs}], toInt32(number + 1)) AS x, "
            f"arrayElement([{ys}], toInt32(number + 1)) AS y "
            f"FROM numbers({npts}))",
            dialect="clickhouse",
        ).collect()[0]
        got = r.s
        wants = " ".join(f"{p[0]}:{p[1]}" for p in want)
        assert got == wants, (npts, k, got, wants)


def test_kql_scalar_vocab10(spark):
    """KQL batch-10 closers not covered by the registry query: series
    trig family completeness, has_ipv4 rejection cases (embedded /
    octet-overflow / substring), ipv6_is_in_any_range negative,
    parse_ipv6_mask full-group boundary, make_string astral code point,
    parse_json passthrough."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
print t1 = series_tan(pack_array(0.0))[0],
  a1 = round(series_asin(pack_array(1.0))[0], 6),
  a2 = round(series_atan(pack_array(1.0))[0], 6),
  c1 = series_cos(pack_array(0.0))[0],
  h1 = has_ipv4('a 999.1.2.3 b', '999.1.2.3'),
  h2 = has_ipv4('a1.2.3.4 b', '1.2.3.4'),
  h3 = has_ipv4('a 1.2.3.4 b', '1.2.3'),
  r1 = ipv6_is_in_any_range('2001:dc8::1',
         pack_array('2001:db8::/32', '2001:db9::/32')),
  p1 = parse_ipv6_mask('2001:db8:85a3::ffff', 48),
  m1 = make_string(66376),
  j1 = parse_json('{"x": 2}')
""",
        dialect="kusto",
    ).collect()[0]
    assert r.t1 == 0.0 and r.c1 == 1.0
    assert r.a1 == 1.570796 and r.a2 == 0.785398
    assert r.h1 is False      # octet overflow never matches
    assert r.h2 is False      # not delimited on the left
    assert r.h3 is False      # needle is a prefix, not a full address
    assert r.r1 is False
    assert r.p1 == "2001:0db8:85a3:0000:0000:0000:0000:0000"
    assert r.m1 == "\U00010348"
    assert r.j1 == '{"x": 2}'


def test_round14_randomized_hardening(spark):
    """Randomized battery for the round-14 tranche-2 tier, pinned
    against INDEPENDENT stdlib oracles: isIPAddressInRange vs
    ipaddress (both families, random prefixes), base32 round-trip vs
    base64.b32encode, overlay vs Python slicing (negative offsets),
    javaHashUTF16LE vs a struct-level UTF-16 fold, toIPv6 render
    round-trip vs ipaddress.compressed, plus the new tz/anchored-time
    aliases."""
    import base64
    import ipaddress
    import random
    import struct

    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    rng = random.Random(140)

    exprs, wants = [], []
    # isIPAddressInRange vs the ipaddress module
    for i in range(10):
        if i % 2 == 0:
            ip = ipaddress.IPv4Address(rng.getrandbits(32))
            net = ipaddress.IPv4Network(
                (rng.getrandbits(32), rng.randrange(0, 33)), strict=False
            )
        else:
            ip = ipaddress.IPv6Address(rng.getrandbits(128))
            net = ipaddress.IPv6Network(
                (rng.getrandbits(128), rng.randrange(0, 129)), strict=False
            )
        exprs.append(
            f"isIPAddressInRange('{ip}', '{net.network_address}/"
            f"{net.prefixlen}')"
        )
        wants.append(1 if ip in net else 0)
    # base32 round-trip + encode equality vs base64.b32encode
    for _ in range(6):
        s = "".join(
            rng.choice("abcdefghijklmnopqrstuvwxyz0123456789 _-")
            for _ in range(rng.randrange(0, 23))
        )
        exprs.append(f"base32Encode('{s}')")
        wants.append(base64.b32encode(s.encode()).decode())
        exprs.append(f"base32Decode(base32Encode('{s}'))")
        wants.append(s)
    # overlay vs Python slicing, incl. negative offsets
    for _ in range(6):
        s = "".join(rng.choice("abcdefgh") for _ in range(rng.randrange(3, 10)))
        rep = "".join(rng.choice("XYZ") for _ in range(rng.randrange(1, 4)))
        off = rng.choice([1, 2, 3, -1, -2])
        ln = rng.randrange(0, 4)
        pos = off if off > 0 else max(1, len(s) + off + 1)
        py = s[: pos - 1] + rep + s[pos - 1 + ln:]
        exprs.append(f"overlay('{s}', '{rep}', {off}, {ln})")
        wants.append(py)
    # javaHashUTF16LE vs a UTF-16 code-unit fold (incl. astral + accents)
    for s in ("héllo wörld", "𐍈ok", "a€b𝄞c", ""):
        units = struct.unpack(
            f">{len(s.encode('utf-16-be')) // 2}H", s.encode("utf-16-be")
        )
        acc = 0
        for u in units:
            acc = (acc * 31 + u) & 0xFFFFFFFF
        if acc >= 2**31:
            acc -= 2**32
        exprs.append(f"javaHashUTF16LE('{s}')")
        wants.append(acc)
    # toIPv6 → RFC 5952 render round-trip vs ipaddress.compressed
    for _ in range(6):
        ip = ipaddress.IPv6Address(
            rng.getrandbits(128) & rng.getrandbits(128) & rng.getrandbits(128)
        )
        exprs.append(f"IPv6NumToString(toIPv6('{ip}'))")
        wants.append(ip.compressed)
    # alias closers
    exprs += [
        "timezone()", "serverTimezone()",
        "toString(toTimeWithFixedDate("
        "toDateTime('2024-03-05 07:08:09'), toDate('1999-12-31')))",
    ]
    wants += ["UTC", "UTC", "1999-12-31 07:08:09"]

    cols = ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    row = eng.sql(f"SELECT {cols}", dialect="clickhouse").collect()[0]
    for i, want in enumerate(wants):
        assert row[i] == want, (i, exprs[i], row[i], want)


def test_vocab_r51_wide_ints(spark):
    """r51 wide-integer casts: exact 30+ digit round-trips, Or-variant
    semantics, exact in-range products, ANSI throw on overflow for the
    strict form (the documented 38-digit range deviation), and the
    generator structure contracts."""
    import re as _re
    from decimal import Decimal

    import pytest as _pytest

    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    r = eng.sql(
        """
SELECT toInt128('123456789012345678901234567890') AS a,
       toInt256('-99999999999999999999999999999999999999') AS b,
       toUInt128OrNull('nope') AS c,
       toInt256OrZero('bad') AS d,
       toInt128OrZero('bad') + toUInt128OrZero('bad') AS d2,
       toInt256OrNull('x') AS c2, toUInt256OrNull('x') AS c3,
       toInt128(123456789) * toInt128(987654321) AS e,
       generateUUIDv7() AS u,
       generateSnowflakeID() AS s,
       dateTimeToSnowflakeID(toDateTime('2026-01-01 00:00:00')) AS s0
""",
        dialect="clickhouse",
    ).collect()[0]
    assert r.a == Decimal("123456789012345678901234567890")
    assert r.b == Decimal("-99999999999999999999999999999999999999")
    assert r.c is None and r.d == Decimal(0)
    assert r.d2 == Decimal(0) and r.c2 is None and r.c3 is None
    assert r.e == Decimal(123456789) * Decimal(987654321)
    assert _re.match(
        r"^[0-9a-f]{8}-[0-9a-f]{4}-7[0-9a-f]{3}-[89ab][0-9a-f]{3}"
        r"-[0-9a-f]{12}$", r.u)
    assert r.s > r.s0  # embedded timestamp is current
    from pyspark.errors.exceptions.captured import NumberFormatException
    with _pytest.raises(Exception):
        eng.sql(
            "SELECT toInt128('1" + "0" * 38 + "') AS x",
            dialect="clickhouse",
        ).collect()


def test_multi_fuzzy_match_round15(spark):
    """multiFuzzyMatch* (round 15): the Sellers approximate-substring
    DP swept against a Python reference on randomized strings, plus the
    documented edge cases (empty pattern matches everywhere; empty
    haystack costs |pattern|)."""
    import random as _random

    from clickhouseocp_spark.engine import ChSparkEngine

    def _sellers(h, p):
        if not p:
            return 0
        if not h:
            return len(p)
        row = list(range(len(p) + 1))
        best = len(p)
        for c in h:
            nr = [0]
            for j in range(1, len(p) + 1):
                nr.append(min(row[j] + 1, nr[j - 1] + 1,
                              row[j - 1] + (p[j - 1] != c)))
            row = nr
            best = min(best, row[-1])
        return best

    _random.seed(155)
    cases = []
    for _ in range(40):
        h = "".join(_random.choice("abcd") for _ in range(_random.randint(0, 12)))
        p = "".join(_random.choice("abcd") for _ in range(_random.randint(1, 6)))
        d = _random.randint(0, 3)
        cases.append((h, p, d))
    cases += [("", "ab", 1), ("", "ab", 2), ("abc", "", 0),
              ("hello world", "wrld", 1), ("hello world", "wrld", 0)]
    eng = ChSparkEngine("/root/testdata/sf0.001", spark)
    sel = ", ".join(
        f"multiFuzzyMatchAny('{h}', {d}, ['{p}']) AS a{k}"
        for k, (h, p, d) in enumerate(cases)
    )
    r = eng.sql(f"SELECT {sel}", dialect="clickhouse").collect()[0]
    for k, (h, p, d) in enumerate(cases):
        exp = int(_sellers(h, p) <= d)
        assert r[k] == exp, (h, p, d, r[k], exp)

    # index forms + plan gate
    r2 = eng.sql(
        "SELECT multiFuzzyMatchAnyIndex('abcdef', 1, ['zzz', 'bce', 'xx']) AS i, "
        "multiFuzzyMatchAllIndices('abcdef', 1, ['zzz', 'bce', 'abd']) AS ai",
        dialect="clickhouse",
    )
    row = r2.collect()[0]
    assert row.i == 2 and list(row.ai) == [2, 3]
    plan = r2._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "InPandas" not in plan
