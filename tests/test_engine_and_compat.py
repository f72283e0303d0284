"""Engine front door (clickhouse-local analog) + ClickHouse-name layer."""

from pyspark.sql import functions as F

from clickhouseocp_spark.engine import ChSparkEngine
from clickhouseocp_spark.functions import clickhouse_names as ch


def test_engine_sql_and_named_queries(spark, sf_dir):
    eng = ChSparkEngine(sf_dir, spark=spark)
    n = eng.sql("SELECT count(*) AS n FROM lineitem").collect()[0].n
    assert n > 0
    q1 = eng.query("q1_pricing_summary")
    assert q1.count() > 0
    plan = eng.explain("SELECT l_returnflag FROM lineitem WHERE l_quantity > 45")
    assert "PushedFilters" in plan


def test_ch_name_layer_values(spark):
    df = spark.createDataFrame(
        [(7, -7, "hello world hello", "2024-03-15 10:30:00")],
        "a int, b int, s string, ts string",
    ).select(F.col("a"), F.col("b"), F.col("s"), F.col("ts").cast("timestamp").alias("ts"))
    row = df.select(
        ch.intDiv("a", F.lit(2)).alias("idiv"),
        ch.intDiv("b", F.lit(2)).alias("idiv_neg"),
        ch.toYYYYMM("ts").alias("ym"),
        ch.toDayOfWeek("ts").alias("dow"),
        ch.replaceOne("s", "hello", "hi").alias("r1"),
        ch.replaceAll("s", "hello", "hi").alias("rall"),
        ch.position("s", "world").alias("pos"),
        ch.IPv4NumToString(F.lit(3232235777)).alias("ip"),
        ch.IPv4StringToNum(F.lit("192.168.1.1")).alias("ipn"),
        ch.bitCount(F.lit(255)).alias("pc"),
        ch.multiSearchAny("s", ["xyz", "world"]).alias("msa"),
        ch.arraySum(F.expr("array(1.0, 2.5, 3.5)")).alias("asum"),
        ch.arrayCumSum(F.expr("array(1, 2, 3)")).alias("acs"),
        ch.arrayDifference(F.expr("array(10, 13, 11)")).alias("adiff"),
        ch.halfMD5(F.lit("x")).alias("hmd5"),
        ch.base64Decode(ch.base64Encode(F.lit("round trip"))).alias("b64"),
    ).collect()[0]
    assert row.idiv == 3 and row.idiv_neg == -3  # truncation toward zero
    assert row.ym == 202403
    assert row.dow == 5  # 2024-03-15 is Friday
    assert row.r1 == "hi world hello"
    assert row.rall == "hi world hi"
    assert row.pos == 7
    assert row.ip == "192.168.1.1" and row.ipn == 3232235777
    assert row.pc == 8
    assert row.msa is True
    assert row.asum == 7.0
    assert row.acs == [1.0, 3.0, 6.0]
    assert row.adiff == [0.0, 3.0, -2.0]
    assert isinstance(row.hmd5, int)
    assert row.b64 == "round trip"


def test_mapping_inventory_nonempty():
    assert len(ch.MAPPING) > 100
    assert "toYYYYMM" in ch.MAPPING and "argMax" in ch.MAPPING


def test_system_introspection(spark, sf_dir):
    eng = ChSparkEngine(sf_dir, spark=spark)
    opts = {r.name: r.value for r in eng.system_build_options().collect()}
    assert opts["engine"] == "spark" and opts["spark.sql.session.timeZone"] == "UTC"
    tables = {r.name for r in eng.system_tables().collect()}
    assert {"lineitem", "events", "documents"} <= tables


def test_system_introspection_via_sql_text(spark, sf_dir):
    """CH text over system.* resolves through the engine-registered views:
    system.columns rows match the real schemas; system.functions lists the
    CH-name vocabulary; SAMPLE/system rewrites compose in one statement."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark=spark)
    cols = eng.sql(
        "SELECT name, type FROM system.columns WHERE table = 'embeddings' ORDER BY position",
        dialect="clickhouse",
    ).collect()
    assert [(r.name, r.type) for r in cols] == [
        ("vec_id", "bigint"),
        ("embedding", "array<float>"),
        ("label", "int"),
    ]
    fns = eng.sql(
        "SELECT count() AS n FROM system.functions", dialect="clickhouse"
    ).collect()[0].n
    assert fns > 100
    tbls = {r.name for r in eng.system_tables().collect()}
    assert {"lineitem", "orders", "events"} <= tbls


def test_mutation_statements(spark, sf_dir):
    """ALTER DELETE / ALTER UPDATE / TRUNCATE / OPTIMIZE over the session
    views, with CH-dialect expressions in the WHERE/assignments; mutations
    replace the view lineage (CH-style deferred rewrite), restorable via
    catalog.invalidate_cache."""
    from clickhouseocp_spark.catalog import invalidate_cache
    from clickhouseocp_spark.engine import ChSparkEngine

    try:
        eng = ChSparkEngine(sf_dir, spark=spark)
        n0 = eng.tables["nation"].count()
        eng.sql("ALTER TABLE nation DELETE WHERE n_regionkey = 0")
        kept = eng.sql("SELECT count() AS n FROM nation", dialect="ch").collect()[0].n
        assert 0 < kept < n0
        eng.sql(
            "ALTER TABLE nation UPDATE n_name = concat(lowerUTF8(n_name), '!'), "
            "n_nationkey = n_nationkey + 100 WHERE n_regionkey = 1"
        )
        rows = eng.sql(
            "SELECT n_name, n_nationkey FROM nation WHERE n_regionkey = 1"
        ).collect()
        assert rows and all(r.n_name.endswith("!") and r.n_name[:-1].islower() for r in rows)
        assert all(r.n_nationkey >= 100 for r in rows)
        assert eng.sql("OPTIMIZE TABLE nation FINAL").count() == kept
        eng.sql("TRUNCATE TABLE region")
        assert eng.tables["region"].count() == 0
        plan = eng.sql("EXPLAIN SELECT count() FROM nation PREWHERE n_regionkey = 2",
                       dialect="clickhouse")
        assert any("Physical Plan" in r.plan or "HashAggregate" in r.plan
                   for r in plan.collect())
    finally:
        invalidate_cache()
        from clickhouseocp_spark.catalog import register_tables

        register_tables(spark, sf_dir)


def test_ctas_insert_drop(spark, sf_dir, tmp_path):
    """CREATE TABLE ... ENGINE=MergeTree PARTITION BY ... ORDER BY ... AS
    SELECT materializes the MergeTree-equivalent layout (partition dirs on
    disk, prunable scans), INSERT INTO appends, DROP removes the view."""
    from clickhouseocp_spark.catalog import invalidate_cache
    from clickhouseocp_spark.engine import ChSparkEngine

    try:
        eng = ChSparkEngine(sf_dir, spark=spark)
        eng.sql(
            "CREATE TABLE daily_sales ENGINE = MergeTree PARTITION BY l_returnflag "
            "ORDER BY (l_shipdate) AS "
            "SELECT l_returnflag, l_shipdate, l_extendedprice FROM lineitem "
            "WHERE l_quantity > 45"
        )
        import os

        base = eng._table_dir
        assert any(
            d.startswith("l_returnflag=") for d in os.listdir(os.path.join(base, "daily_sales"))
        )
        n1 = eng.sql("SELECT count() AS n FROM daily_sales", dialect="ch").collect()[0].n
        assert n1 > 0
        eng.sql(
            "INSERT INTO daily_sales SELECT l_returnflag, l_shipdate, l_extendedprice "
            "FROM lineitem WHERE l_quantity <= 2"
        )
        n2 = eng.sql("SELECT count() AS n FROM daily_sales", dialect="ch").collect()[0].n
        assert n2 > n1
        # partition filter prunes: only one partition directory is read
        plan = eng.explain("SELECT count() FROM daily_sales WHERE l_returnflag = 'R'")
        eng.sql("DROP TABLE daily_sales")
        assert "daily_sales" not in eng.tables
    finally:
        invalidate_cache()


def test_show_tables_and_describe(spark, sf_dir):
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark=spark)
    tbls = {r.name for r in eng.sql("SHOW TABLES").collect()}
    assert "lineitem" in tbls
    desc = {r.col_name: r.data_type for r in eng.sql("DESCRIBE TABLE nation").collect()}
    assert desc.get("n_nationkey") in ("int", "bigint")
    # arrayJoin + combinators end-to-end in CH text
    r = eng.sql(
        "SELECT uniqArray(splitByChar(' ', text)) AS u, countArray(splitByChar(' ', text)) AS c "
        "FROM documents",
        dialect="clickhouse",
    ).collect()[0]
    assert r.u > 0 and r.c > r.u


def test_rename_and_exchange_tables(spark, sf_dir):
    """RENAME TABLE re-points the session view; EXCHANGE TABLES swaps two
    views atomically from the caller's perspective (CH DDL surface)."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    n_nation = eng.sql("SELECT count(*) AS n FROM nation").collect()[0].n
    n_region = eng.sql("SELECT count(*) AS n FROM region").collect()[0].n
    eng.execute("RENAME TABLE nation TO nation_old")
    assert eng.sql("SELECT count(*) AS n FROM nation_old").collect()[0].n == n_nation
    eng.execute("RENAME TABLE nation_old TO nation")
    eng.execute("EXCHANGE TABLES nation AND region")
    assert eng.sql("SELECT count(*) AS n FROM nation").collect()[0].n == n_region
    assert eng.sql("SELECT count(*) AS n FROM region").collect()[0].n == n_nation
    eng.execute("EXCHANGE TABLES nation AND region")
    assert eng.sql("SELECT count(*) AS n FROM nation").collect()[0].n == n_nation


def test_insert_values(spark, sf_dir):
    """INSERT INTO t VALUES (...): positional, CH-dialect expressions allowed
    in cells, explicit column lists NULL-fill the rest, values cast to the
    target column types."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    n0 = eng.sql("SELECT count(*) AS n FROM region").collect()[0].n
    eng.execute(
        "INSERT INTO region VALUES (90, 'ATLANTIS'), "
        "(91, upper(concat('m', 'u')))"
    )
    assert eng.sql("SELECT count(*) AS n FROM region").collect()[0].n == n0 + 2
    row = eng.sql(
        "SELECT r_name FROM region WHERE r_regionkey = 91"
    ).collect()[0]
    assert row.r_name == "MU"
    # explicit column list: r_name absent -> NULL
    eng.execute("INSERT INTO region (r_regionkey) VALUES (92)")
    row = eng.sql(
        "SELECT r_name FROM region WHERE r_regionkey = 92"
    ).collect()[0]
    assert row.r_name is None
    # arity mismatch is a clear error
    import pytest as _pytest

    from clickhouseocp_spark.chsql import ChSqlError

    with _pytest.raises(ChSqlError, match="arity"):
        eng.execute("INSERT INTO region VALUES (1, 'x', 'y')")


def test_system_parts(spark, sf_dir):
    """system.parts over a CTAS MergeTree layout: one row per data file with
    footer-derived row counts; partition directories surface as partition
    values; fixtures appear as single unpartitioned parts."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    eng.execute(
        "CREATE TABLE parts_demo ENGINE = MergeTree PARTITION BY l_returnflag "
        "ORDER BY (l_shipdate) AS SELECT * FROM lineitem"
    )
    parts = eng.sql(
        "SELECT partition, rows FROM system.parts WHERE table = 'parts_demo'",
        dialect="clickhouse",
    ).collect()
    assert len(parts) >= 3  # one partition dir per returnflag
    assert {p.partition.split("=")[0] for p in parts} == {"l_returnflag"}
    total = sum(p.rows for p in parts)
    n = eng.sql("SELECT count(*) AS n FROM lineitem").collect()[0].n
    assert total == n
    fixture = eng.sql(
        "SELECT rows FROM system.parts WHERE table = 'orders'", dialect="ch"
    ).collect()
    assert len(fixture) == 1 and fixture[0].rows > 0


def test_create_view_and_materialized_view(spark, sf_dir):
    """CREATE VIEW recomputes per read (lineage view); CREATE MATERIALIZED
    VIEW stores the result in the MergeTree layout (CH MVs store);
    DROP VIEW removes either."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    eng.execute(
        "CREATE VIEW big_orders AS SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_totalprice > 100000"
    )
    n = eng.sql("SELECT count(*) AS n FROM big_orders").collect()[0].n
    assert n > 0
    eng.execute(
        "CREATE MATERIALIZED VIEW prio_counts AS "
        "SELECT o_orderpriority, count() AS n FROM orders GROUP BY o_orderpriority"
    )
    assert eng.sql("SELECT count(*) AS n FROM prio_counts").collect()[0].n == 5
    import os

    assert os.path.isdir(os.path.join(eng._table_dir, "prio_counts"))
    eng.execute("DROP VIEW big_orders")
    eng.execute("DROP TABLE prio_counts")
    assert "big_orders" not in eng.tables and "prio_counts" not in eng.tables


def test_row_policy(spark, sf_dir):
    """CREATE ROW POLICY ... ON t USING cond: the session's single-principal
    analog of CH row policies (SURVEY §2.2) — the table view gets the filter;
    DROP ROW POLICY restores the unfiltered lineage."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    n0 = eng.sql("SELECT count(*) AS n FROM nation").collect()[0].n
    eng.execute("CREATE ROW POLICY reg0 ON nation USING n_regionkey == 0 TO default")
    n1 = eng.sql("SELECT count(*) AS n FROM nation").collect()[0].n
    assert 0 < n1 < n0
    eng.execute("DROP ROW POLICY reg0 ON nation")
    assert eng.sql("SELECT count(*) AS n FROM nation").collect()[0].n == n0


def test_row_policy_mutation_and_stacking(spark, sf_dir):
    """Policies are stored as predicates, not snapshots: a mutation made
    while a policy is active survives its drop, and two stacked policies on
    one table compose/drop in any order (ADVICE r2 #2)."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    n0 = eng.sql("SELECT count(*) AS n FROM region").collect()[0].n
    eng.execute("CREATE ROW POLICY p1 ON region USING r_regionkey < 3")
    eng.execute("CREATE ROW POLICY p2 ON region USING r_regionkey > 0")
    # stacked: both filters visible
    assert eng.sql("SELECT count(*) AS n FROM region").collect()[0].n == 2
    # mutation while both policies active: applies to the BASE lineage
    eng.execute("INSERT INTO region VALUES (9, 'NOVA')")
    # the inserted row matches both predicates? 9 > 0 but not < 3 → hidden now
    assert eng.sql("SELECT count(*) AS n FROM region").collect()[0].n == 2
    # drop the first policy (out of creation order): second still applies
    eng.execute("DROP ROW POLICY p1 ON region")
    vis = {r.r_regionkey for r in eng.sql("SELECT r_regionkey FROM region").collect()}
    assert 9 in vis and 0 not in vis
    # drop the second: full base including the mid-policy insert
    eng.execute("DROP ROW POLICY p2 ON region")
    assert eng.sql("SELECT count(*) AS n FROM region").collect()[0].n == n0 + 1
    eng.execute("DELETE FROM region WHERE r_regionkey = 9")
    assert eng.sql("SELECT count(*) AS n FROM region").collect()[0].n == n0


def test_ch_dialect_noop_transpile_executes(spark, sf_dir):
    """sql(..., dialect='clickhouse') must execute even when the CH text is
    already valid Spark SQL (transpiler no-op) — ADVICE r2 #1 regression."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    df = eng.sql("SELECT count(*) AS n FROM lineitem", dialect="clickhouse")
    assert df is not None and df.collect()[0].n > 0


def test_detach_attach_exists_processlist(spark, sf_dir):
    """DETACH parks a table (data survives), ATTACH restores it, EXISTS
    TABLE and SHOW DATABASES/PROCESSLIST answer the CH ops surface."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    n0 = eng.sql("SELECT count(*) AS n FROM part").collect()[0].n
    assert eng.sql("EXISTS TABLE part").collect()[0].result == 1
    eng.sql("DETACH TABLE part")
    assert "part" not in eng.tables
    assert eng.sql("EXISTS TABLE part").collect()[0].result == 0
    eng.sql("ATTACH TABLE part")
    assert eng.sql("SELECT count(*) AS n FROM part").collect()[0].n == n0
    assert eng.sql("SHOW DATABASES").collect()[0].name == "default"
    assert eng.sql("SHOW PROCESSLIST").count() == 0


def test_show_create_table(spark, sf_dir):
    """SHOW CREATE TABLE renders CH-style DDL from the live schema, with the
    partition key recovered from a CTAS MergeTree layout."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    ddl = eng.sql("SHOW CREATE TABLE orders").collect()[0].statement
    assert ddl.startswith("CREATE TABLE orders")
    assert "`o_orderkey` Int64" in ddl and "ENGINE = MergeTree" in ddl
    eng.execute(
        "CREATE TABLE sc_demo ENGINE = MergeTree PARTITION BY l_returnflag "
        "ORDER BY (l_shipdate) AS SELECT l_returnflag, l_quantity FROM lineitem"
    )
    ddl = eng.sql("SHOW CREATE TABLE sc_demo").collect()[0].statement
    assert "PARTITION BY (l_returnflag)" in ddl
    eng.execute("DROP TABLE sc_demo")


def test_alter_add_drop_modify_column(spark, sf_dir):
    """ALTER TABLE ADD/DROP/MODIFY COLUMN with CH type names and DEFAULT
    expressions through the dialect rewriter."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    eng.execute("ALTER TABLE region ADD COLUMN pop Int64 DEFAULT 100")
    row = eng.sql("SELECT pop FROM region LIMIT 1").collect()[0]
    assert row.pop == 100
    eng.execute("ALTER TABLE region MODIFY COLUMN pop Float64")
    assert dict(eng.tables["region"].dtypes)["pop"] == "double"
    eng.execute("ALTER TABLE region DROP COLUMN pop")
    assert "pop" not in eng.tables["region"].columns


def test_insert_format_jsoneachrow(spark, sf_dir):
    """INSERT INTO t FORMAT JSONEachRow: line-per-object ingestion, fields by
    name, absent columns NULL-filled — the reference's Kafka/HTTP format."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    n0 = eng.sql("SELECT count(*) AS n FROM region").collect()[0].n
    eng.execute(
        'INSERT INTO region FORMAT JSONEachRow {"r_regionkey": 77, "r_name": "JSONIA"}\n'
        '{"r_regionkey": 78, "r_name": "LINIA"}'
    )
    assert eng.sql("SELECT count(*) AS n FROM region").collect()[0].n == n0 + 2
    eng.execute('INSERT INTO region (r_regionkey) FORMAT JSONEachRow {"r_regionkey": 79}')
    row = eng.sql("SELECT r_name FROM region WHERE r_regionkey = 79").collect()[0]
    assert row.r_name is None


def test_lightweight_delete_and_system_noops(spark, sf_dir):
    """DELETE FROM t WHERE (CH 22.8+ lightweight-delete syntax) and
    SYSTEM/KILL ops statements (accepted no-ops — no daemon state here)."""
    from clickhouseocp_spark.engine import ChSparkEngine

    from clickhouseocp_spark.catalog import invalidate_cache, register_tables

    try:
        eng = ChSparkEngine(sf_dir, spark)
        n0 = eng.sql("SELECT count(*) AS n FROM nation").collect()[0].n
        eng.sql("DELETE FROM nation WHERE n_regionkey == 0")
        n1 = eng.sql("SELECT count(*) AS n FROM nation").collect()[0].n
        assert 0 < n1 < n0
        assert eng.sql("SYSTEM FLUSH LOGS").count() == 0
        assert eng.sql("SYSTEM RELOAD DICTIONARIES").count() == 0
        assert eng.sql("KILL QUERY WHERE query_id = 'x'").count() == 0
    finally:
        invalidate_cache()
        register_tables(spark, sf_dir)


# ---------------------------------------------------------------------------
# round 3: output FORMAT rendering + EXPLAIN statement family
# ---------------------------------------------------------------------------


def test_output_formats_render(spark, sf_dir):
    """engine.run() = clickhouse-local -q stdout parity: the trailing FORMAT
    clause picks the renderer; escaping/quoting follows the CH format spec."""
    import json

    eng = ChSparkEngine(sf_dir, spark=spark)
    q = (
        "SELECT l_returnflag AS f, count() AS n FROM lineitem "
        "GROUP BY f ORDER BY f LIMIT 2"
    )

    tsv = eng.run(q + " FORMAT TabSeparatedWithNames")
    lines = tsv.strip().split("\n")
    assert lines[0] == "f\tn"
    assert len(lines) == 3 and "\t" in lines[1]

    csv = eng.run(q + " FORMAT CSVWithNames")
    assert csv.startswith("f,n\n")

    jer = eng.run(q + " FORMAT JSONEachRow")
    objs = [json.loads(l) for l in jer.strip().split("\n")]
    assert len(objs) == 2 and set(objs[0]) == {"f", "n"}

    env = json.loads(eng.run(q + " FORMAT JSON"))
    assert env["rows"] == 2
    assert {m["name"] for m in env["meta"]} == {"f", "n"}
    assert env["meta"][1]["type"] == "Int64"

    vals = eng.run(q + " FORMAT Values")
    assert vals.startswith("(") and "),(" in vals

    pretty = eng.run(q + " FORMAT PrettyCompact")
    assert pretty.splitlines()[0].startswith("┌─") and "│" in pretty

    vert = eng.run(q + " FORMAT Vertical")
    assert vert.startswith("Row 1:")

    # default format is TabSeparated (no header)
    default = eng.run(q)
    assert default.count("\n") == 2 and "\t" in default

    # NULL renders as \N in TSV and CSV
    nul = eng.run("SELECT NULL AS x FORMAT TabSeparated")
    assert nul.strip() == "\\N"


def test_format_escaping_and_cap(spark, sf_dir):
    from clickhouseocp_spark.formats import render

    eng = ChSparkEngine(sf_dir, spark=spark)
    df = spark.createDataFrame(
        [("a\tb\nc", 1.5), ('say "hi", ok', float("nan"))], "s string, x double"
    )
    tsv = render(df, "TabSeparated")
    assert "a\\tb\\nc" in tsv and "nan" in tsv
    csv = render(df, "CSV")
    assert '"say ""hi"", ok"' in csv
    capped = render(eng.sql("SELECT * FROM lineitem"), "CSV", max_rows=5)
    assert capped.count("\n") == 5
    import pytest

    with pytest.raises(ValueError, match="unsupported FORMAT"):
        render(df, "NotAFormat")


def test_explain_statement_family(spark, sf_dir):
    eng = ChSparkEngine(sf_dir, spark=spark)
    q = "SELECT count() FROM lineitem PREWHERE l_quantity > 45"

    syntax = eng.sql("EXPLAIN SYNTAX " + q).collect()
    text = "\n".join(r.plan for r in syntax)
    assert "count(*)" in text or "count(1)" in text  # transpiled Spark SQL

    ast = eng.sql("EXPLAIN AST SELECT sum(x) FROM (SELECT 1 AS x)").collect()
    toks = [r.plan for r in ast]
    assert any(t.strip() == "sum" for t in toks)
    assert any(t.startswith("  ") for t in toks)  # paren-depth indent

    plan = eng.sql("EXPLAIN PLAN SELECT l_returnflag FROM lineitem WHERE l_quantity > 45")
    ptext = "\n".join(r.plan for r in plan.collect())
    assert "Filter" in ptext  # optimized logical plan

    pipe = eng.sql("EXPLAIN PIPELINE SELECT l_returnflag FROM lineitem WHERE l_quantity > 45")
    xtext = "\n".join(r.plan for r in pipe.collect())
    assert "PushedFilters" in xtext  # physical scan detail

    est = eng.sql("EXPLAIN ESTIMATE SELECT * FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
    rows = {r.table: r for r in est.collect()}
    assert "lineitem" in rows and "orders" in rows
    assert rows["lineitem"].rows > 0 and rows["lineitem"].parts >= 1


def test_query_log_records_statements(spark, sf_dir):
    """system.query_log analog (Dockerfile:225-230): every sql() call is
    logged with kind/dialect/duration/outcome; failures log too."""
    eng = ChSparkEngine(sf_dir, spark)
    eng.sql("SELECT count() AS n FROM region", dialect="clickhouse").collect()
    try:
        eng.sql("SELECT nope_col FROM region", dialect="spark")
    except Exception:
        pass
    rows = {(r.query_kind, r.dialect, r.type) for r in eng.system_query_log().collect()}
    assert ("SELECT", "clickhouse", "QueryFinish") in rows
    assert ("SELECT", "spark", "ExceptionWhileProcessing") in rows
    assert all(r.query_duration_ms >= 0 for r in eng.system_query_log().collect())
    # readable through the CH text surface, and the read itself logs afterward
    n = eng.sql(
        "SELECT count() AS n FROM system.query_log", dialect="clickhouse"
    ).collect()[0].n
    assert n == 2
    assert eng.system_query_log().count() == 3


def test_query_log_execution_metrics_and_flush(spark, sf_dir, tmp_path):
    """round-10 (r9 verdict #5): eng.run_logged() completes the query_log row
    with executed-plan metrics — read_rows (scan output), result_rows,
    memory_usage — and flush_query_log writes the reference image's own
    layout: parquet partitioned by toYYYYMM(event_date)
    (Dockerfile:225-230)."""
    eng = ChSparkEngine(sf_dir, spark)
    rows = eng.run_logged(
        "SELECT l_returnflag, count() AS n FROM lineitem "
        "WHERE l_orderkey < 100 GROUP BY l_returnflag",
        dialect="clickhouse",
    )
    log = eng.system_query_log().collect()
    last = max(log, key=lambda r: r.query_id)
    # CH-compatible column names, filled for the executed statement
    assert last.type == "QueryFinish"
    assert last.result_rows == len(rows) > 0
    assert last.read_rows is not None and last.read_rows >= last.result_rows
    assert last.memory_usage is not None and last.memory_usage > 0
    assert last.event_date == last.event_time[:10]
    # lazy sql() rows keep NULL metrics (documented: no Python
    # QueryExecutionListener exists; capture happens at the action)
    eng.sql("SELECT count() AS n FROM region", dialect="clickhouse")
    lazy = max(eng.system_query_log().collect(), key=lambda r: r.query_id)
    assert lazy.read_rows is None and lazy.result_rows is None
    # flush: partitioned parquet, CH partition scheme
    import os

    path = str(tmp_path / "query_log")
    eng.flush_query_log(path)
    parts = [d for d in os.listdir(path) if d.startswith("event_yyyymm=")]
    assert parts, os.listdir(path)
    back = spark.read.parquet(path)
    assert {"query_id", "event_date", "query_duration_ms", "read_rows",
            "result_rows", "memory_usage", "type"} <= set(back.columns)
    assert back.count() == eng.system_query_log().count()


def test_set_statement_and_prql_dialect_toggle(spark, sf_dir):
    """SET name = value (profiles surface, Dockerfile:246-252) + upstream's
    `SET dialect = 'prql'` toggle routing the auto path."""
    eng = ChSparkEngine(sf_dir, spark)
    eng.sql("SET max_threads = 8")
    assert eng.settings["max_threads"] == "8"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    eng.sql("SET max_memory_usage = 10000000000")  # recorded, no conf analog
    assert eng.settings["max_memory_usage"] == "10000000000"
    eng.sql("SET dialect = 'prql'")
    rows = eng.sql("from region | take 2").collect()  # auto → prql
    assert len(rows) == 2
    eng.sql("SET dialect = 'clickhouse'")
    n = eng.sql("SELECT count() AS n FROM region").collect()[0].n
    assert n == eng.sql("SELECT count(*) AS n FROM region", dialect="spark").collect()[0].n
    spark.conf.set("spark.sql.shuffle.partitions", "32")


def test_insert_format_csv_tsv(spark, sf_dir):
    eng = ChSparkEngine(sf_dir, spark)
    eng.sql("CREATE TABLE fmt_t (a Int64, b String, c Float64) ENGINE = Memory")
    eng.sql("INSERT INTO fmt_t FORMAT CSV 1,x,1.5\n2,y,2.5")
    eng.sql("INSERT INTO fmt_t (a, b) FORMAT TabSeparated 3\tz")
    eng.sql("INSERT INTO fmt_t (c, a) FORMAT TSV 4.5\t4")
    rows = {r.a: (r.b, r.c) for r in eng.sql("SELECT * FROM fmt_t", dialect="spark").collect()}
    assert rows == {1: ("x", 1.5), 2: ("y", 2.5), 3: ("z", None), 4: (None, 4.5)}


def test_create_table_bare_ddl_types(spark, sf_dir):
    """CREATE TABLE with a column list and CH types (no AS SELECT) makes an
    empty typed table; nested Nullable/LowCardinality/Array/Decimal map."""
    eng = ChSparkEngine(sf_dir, spark)
    eng.sql(
        "CREATE TABLE ddl_t (i Int32, u UInt64, f Float32, s LowCardinality(String), "
        "d Decimal(10, 2), a Array(Nullable(Int64)), ts DateTime64(3), dt Date) "
        "ENGINE = MergeTree ORDER BY i"
    )
    dt = dict(eng.sql("SELECT * FROM ddl_t", dialect="spark").dtypes)
    assert dt == {
        "i": "int", "u": "bigint", "f": "float", "s": "string",
        "d": "decimal(10,2)", "a": "array<bigint>", "ts": "timestamp", "dt": "date",
    }
    assert eng.sql("SELECT count() AS n FROM ddl_t").collect()[0].n == 0
    eng.sql("INSERT INTO ddl_t (i, u) VALUES (1, 2)")
    assert eng.sql("SELECT count() AS n FROM ddl_t").collect()[0].n == 1


def test_optimize_deduplicate_and_query_cache(spark, sf_dir):
    eng = ChSparkEngine(sf_dir, spark)
    eng.sql("CREATE TABLE qc_t (a Int64, b String) ENGINE = Memory")
    eng.sql("INSERT INTO qc_t VALUES (1, 'x'), (1, 'x'), (2, 'y')")
    eng.sql("OPTIMIZE TABLE qc_t DEDUPLICATE")
    assert eng.sql("SELECT count() AS n FROM qc_t").collect()[0].n == 2
    # query cache: identical SELECT text returns the SAME persisted DataFrame
    eng.sql("SET use_query_cache = 1")
    d1 = eng.sql("SELECT count() AS n FROM region", dialect="clickhouse")
    d2 = eng.sql("SELECT  count()  AS n  FROM region", dialect="clickhouse")
    assert d1 is d2  # whitespace-normalized key hit
    assert d1.storageLevel.useMemory  # persisted
    eng.sql("SET use_query_cache = 0")
    d3 = eng.sql("SELECT count() AS n FROM region", dialect="clickhouse")
    assert d3 is not d1


def test_system_metrics_and_format_null(spark, sf_dir):
    eng = ChSparkEngine(sf_dir, spark)
    eng.sql("SELECT count() AS n FROM region", dialect="clickhouse").collect()
    try:
        eng.sql("SELECT bogus_col FROM region", dialect="spark")
    except Exception:
        pass
    m = {r.metric: r.value for r in eng.sql(
        "SELECT metric, value FROM system.metrics", dialect="clickhouse"
    ).collect()}
    assert m["Query"] == 2 and m["FailedQuery"] == 1
    assert m["TablesRegistered"] > 5
    # FORMAT Null executes but renders nothing
    assert eng.run("SELECT * FROM region FORMAT Null") == ""


def test_format_and_benchmark_tools(spark, sf_dir):
    """clickhouse-format / clickhouse-benchmark analogs (A3 tool surface)."""
    eng = ChSparkEngine(sf_dir, spark)
    out = eng.format(
        "select r_name, count() as n from region group by r_name order by n desc"
    )
    assert out.splitlines() == [
        "SELECT r_name, count() AS n",
        "FROM region",
        "GROUP BY r_name",
        "ORDER BY n DESC",
    ]
    # formatted text still transpiles + runs
    assert eng.sql(out, dialect="clickhouse").count() > 0
    b = eng.benchmark("SELECT count() AS n FROM region", iterations=2)
    assert b["iterations"] == 2 and b["min"] <= b["p50"] <= b["max"]
    assert b["qps"] > 0


def test_query_parameters(spark, sf_dir):
    """{name:Type} query parameters (clickhouse-client --param_name / HTTP
    param_name=v): typed-literal substitution before dispatch; unbound and
    non-numeric-for-numeric-type raise dialect diagnostics."""
    import pytest

    from clickhouseocp_spark.chsql import ChSqlError, bind_params

    eng = ChSparkEngine(sf_dir, spark)
    rows = eng.sql(
        "SELECT r_name FROM region WHERE r_regionkey = {rk:UInt32}",
        dialect="clickhouse",
        params={"rk": 1},
    ).collect()
    assert len(rows) == 1
    rows = eng.sql(
        "SELECT count(*) AS n FROM {t:Identifier} "
        "WHERE has({names:Array(String)}, r_name)",
        dialect="clickhouse",
        params={"t": "region", "names": ["ASIA", "EUROPE"]},
    ).collect()
    assert rows[0].n == 2
    assert (
        bind_params("SELECT {d:Date}, {s:String}", {"d": "2024-01-02", "s": "o'x"})
        == "SELECT DATE '2024-01-02', 'o''x'"
    )
    with pytest.raises(ChSqlError, match="not bound"):
        bind_params("SELECT {missing:UInt8}", {})
    with pytest.raises(ChSqlError, match="numeric"):
        bind_params("SELECT {n:UInt8}", {"n": "1; DROP TABLE x"})
    with pytest.raises(ChSqlError, match="Identifier"):
        bind_params("SELECT * FROM {t:Identifier}", {"t": "region; --"})


def test_undrop_table(spark, sf_dir):
    """DROP parks the lineage; UNDROP TABLE (CH 23.3+) restores it with any
    pre-drop mutations intact; a second UNDROP raises."""
    import pytest

    from clickhouseocp_spark.chsql import ChSqlError

    eng = ChSparkEngine(sf_dir, spark)
    eng.sql("CREATE TABLE udt AS SELECT r_regionkey, r_name FROM region")
    eng.sql("ALTER TABLE udt DELETE WHERE r_regionkey = 0")
    n_before = eng.sql("SELECT count(*) AS n FROM udt").collect()[0].n
    eng.sql("DROP TABLE udt")
    assert "udt" not in eng.tables
    eng.sql("UNDROP TABLE udt")
    assert eng.sql("SELECT count(*) AS n FROM udt").collect()[0].n == n_before
    eng.sql("DROP TABLE udt")
    eng.sql("UNDROP TABLE udt")
    eng.sql("DROP TABLE udt")
    eng.sql("UNDROP TABLE udt")
    with pytest.raises(ChSqlError, match="UNDROP"):
        eng.execute("UNDROP TABLE never_existed")
    eng.sql("DROP TABLE udt")


def test_check_table_and_materialize_column(spark, sf_dir):
    """CHECK TABLE returns the CH one-row (result=1) shape after forcing a
    full lineage evaluation; ALTER TABLE ... MATERIALIZE COLUMN is the
    documented lineage no-op but still validates the column exists."""
    import pytest

    from clickhouseocp_spark.chsql import ChSqlError

    eng = ChSparkEngine(sf_dir, spark)
    r = eng.sql("CHECK TABLE region").collect()
    assert len(r) == 1 and r[0].result == 1 and r[0].rows_read == 5
    eng.sql("CREATE TABLE mc AS SELECT r_regionkey FROM region")
    eng.sql("ALTER TABLE mc ADD COLUMN dbl Int64 DEFAULT r_regionkey * 2")
    eng.sql("ALTER TABLE mc MATERIALIZE COLUMN dbl")
    assert eng.sql("SELECT sum(dbl) AS s FROM mc").collect()[0].s == 20
    with pytest.raises(ChSqlError, match="MATERIALIZE COLUMN"):
        eng.execute("ALTER TABLE mc MATERIALIZE COLUMN nope")
    eng.sql("DROP TABLE mc")


def test_parameterized_view(spark, sf_dir):
    """CREATE VIEW with {p:Type} placeholders (CH 23.1 parameterized views):
    instantiated per call via FROM v(p = value); unbound params raise."""
    import pytest

    from clickhouseocp_spark.chsql import ChSqlError

    eng = ChSparkEngine(sf_dir, spark=spark)
    eng.sql(
        "CREATE VIEW region_by_key AS "
        "SELECT r_regionkey, r_name FROM region WHERE r_regionkey = {rk:UInt32}"
    )
    rows = eng.sql("SELECT r_name FROM region_by_key(rk = 2)").collect()
    assert len(rows) == 1
    # composes with the CH dialect and other clauses
    n = eng.sql(
        "SELECT count() AS n FROM region_by_key(rk = 3) WHERE r_name != ''",
        dialect="clickhouse",
    ).collect()[0].n
    assert n == 1
    with pytest.raises(ChSqlError, match="not bound"):
        eng.sql("SELECT * FROM region_by_key(wrong = 1)")
    with pytest.raises(ChSqlError, match="name = value"):
        eng.sql("SELECT * FROM region_by_key(5)")


def test_into_outfile_writes_and_reports(spark, sf_dir, tmp_path):
    """SELECT ... INTO OUTFILE 'f.csv' writes the rendered result to a
    driver-local file (CSV for .csv extension) and reports the row count —
    the clickhouse-local export surface."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark=spark)
    out = tmp_path / "flags.csv"
    msg = eng.run(
        f"SELECT l_returnflag, count() AS n FROM lineitem "
        f"GROUP BY l_returnflag ORDER BY l_returnflag INTO OUTFILE '{out}'"
    )
    assert msg == f"3 rows written to {out}."
    lines = out.read_text().strip().splitlines()
    assert lines[0].split(",")[0] == "l_returnflag" and len(lines) == 4

    # explicit FORMAT wins over the extension default
    out2 = tmp_path / "flags.txt"
    eng.run(
        f"SELECT l_returnflag FROM lineitem GROUP BY l_returnflag "
        f"INTO OUTFILE '{out2}' FORMAT JSONEachRow"
    )
    assert out2.read_text().lstrip().startswith("{")


def test_into_outfile_reports_rows_written_under_max_rows(spark, sf_dir, tmp_path):
    """A text OUTFILE capped by ``max_rows`` reports the rows it wrote, not
    the uncapped result size."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark=spark)
    out = tmp_path / "keys.tsv"
    msg = eng.run(
        f"SELECT o_orderkey FROM orders ORDER BY o_orderkey INTO OUTFILE '{out}'",
        max_rows=3,
    )
    assert msg == f"3 rows written to {out}."
    assert len(out.read_text().splitlines()) == 3


def test_binary_outfile_counts_rows_in_the_write_job(spark, sf_dir, tmp_path):
    """A binary INTO OUTFILE (Parquet) runs the query once: the row count
    comes from an Observation on the write, so the statement's job group
    holds exactly one job and the reported count equals the file's rows."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark=spark)
    eng.sql("SELECT * FROM lineitem")  # any schema probe runs outside
    sc = spark.sparkContext
    group = "binary-outfile-jobs"
    out = tmp_path / "lineitem.parquet"
    stats: dict = {}
    sc.setJobGroup(group, "binary INTO OUTFILE")
    try:
        msg = eng.run(f"SELECT * FROM lineitem INTO OUTFILE '{out}'", stats=stats)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    n = spark.read.parquet(str(out)).count()
    assert n == eng.sql("SELECT * FROM lineitem").count() > 0
    assert msg == f"{n} rows written to {out}."
    assert stats["written_rows"] == n
    assert len(jobs) == 1, jobs


def test_refreshable_materialized_view(spark, sf_dir, tmp_path):
    """CREATE MATERIALIZED VIEW ... REFRESH EVERY n unit AS SELECT stores the
    definition, materializes immediately, and SYSTEM REFRESH VIEW recomputes
    against current lineage (CH 23.12 refreshable MVs)."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark=spark)
    # mutate a private CTAS copy, NOT the shared lineitem fixture view (the
    # session-scoped spark fixture makes temp views global across tests)
    eng.sql("CREATE TABLE li_refresh_src ENGINE = MergeTree AS SELECT * FROM lineitem")
    eng.sql(
        "CREATE MATERIALIZED VIEW flag_counts REFRESH EVERY 1 HOUR AS "
        "SELECT l_returnflag, count(*) AS n FROM li_refresh_src GROUP BY l_returnflag"
    )
    before = {r.l_returnflag: r.n for r in eng.sql("SELECT * FROM flag_counts").collect()}
    assert len(before) == 3

    # mutate the source, refresh, and the MV must follow
    eng.sql("DELETE FROM li_refresh_src WHERE l_returnflag = 'R'")
    assert eng.refresh_views() == ["flag_counts"]
    after = {r.l_returnflag: r.n for r in eng.sql("SELECT * FROM flag_counts").collect()}
    assert "R" not in after and after["N"] == before["N"]

    import pytest

    from clickhouseocp_spark.chsql import ChSqlError

    with pytest.raises(ChSqlError, match="refreshable"):
        eng.sql("SYSTEM REFRESH VIEW nope")


def test_ch_named_udfs_on_text_path(spark, sf_dir):
    """damerauLevenshteinDistance / jaroSimilarity / jaroWinklerSimilarity are
    registered SQL functions under their CH names - callable from raw text."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark=spark)
    r = eng.sql(
        "SELECT damerauLevenshteinDistance('CA', 'ABC') AS d, "
        "round(jaroSimilarity('martha', 'marhta'), 6) AS j, "
        "round(jaroWinklerSimilarity('dixon', 'dicksonx'), 6) AS jw",
        dialect="clickhouse",
    ).first()
    assert (r.d, r.j, r.jw) == (2, 0.944444, 0.813333)


def test_alter_partition_lifecycle(spark, sf_dir):
    """DROP/DETACH/ATTACH PARTITION and FREEZE over a CTAS-materialized
    PARTITION BY layout: directory-level part lifecycle, CH semantics."""
    import pytest

    from clickhouseocp_spark.chsql import ChSqlError
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark=spark)
    eng.sql(
        "CREATE TABLE li_parts ENGINE = MergeTree PARTITION BY l_returnflag "
        "ORDER BY l_orderkey AS SELECT * FROM lineitem"
    )
    total = eng.sql("SELECT count(*) AS n FROM li_parts").first().n
    per_flag = {
        r.l_returnflag: r.n
        for r in eng.sql(
            "SELECT l_returnflag, count(*) AS n FROM li_parts GROUP BY l_returnflag"
        ).collect()
    }

    # FREEZE snapshots before mutation
    snap = eng.sql("ALTER TABLE li_parts FREEZE WITH NAME 'b1'").first()
    assert snap.table == "li_parts"
    frozen = spark.read.parquet(snap.backup_path)

    # DETACH removes the partition from reads, ATTACH restores it
    eng.sql("ALTER TABLE li_parts DETACH PARTITION 'R'")
    n_detached = eng.sql("SELECT count(*) AS n FROM li_parts").first().n
    assert n_detached == total - per_flag["R"]
    eng.sql("ALTER TABLE li_parts ATTACH PARTITION 'R'")
    assert eng.sql("SELECT count(*) AS n FROM li_parts").first().n == total

    # DROP removes it permanently
    eng.sql("ALTER TABLE li_parts DROP PARTITION 'R'")
    flags = {
        r.l_returnflag
        for r in eng.sql("SELECT DISTINCT l_returnflag FROM li_parts").collect()
    }
    assert "R" not in flags and flags == {"A", "N"}
    # the frozen snapshot still holds every partition
    assert frozen.count() == total

    with pytest.raises(ChSqlError, match="no partition"):
        eng.sql("ALTER TABLE li_parts DROP PARTITION 'Z'")
    with pytest.raises(ChSqlError, match="PARTITION BY"):
        eng.sql("CREATE TABLE li_flat ENGINE = MergeTree AS SELECT * FROM region")
        eng.sql("ALTER TABLE li_flat DROP PARTITION 'x'")


def test_backup_restore_table(spark, sf_dir, tmp_path):
    """BACKUP TABLE ... TO File('path') writes a self-contained parquet
    snapshot; RESTORE TABLE ... FROM brings it back over current lineage."""
    import pytest

    from clickhouseocp_spark.chsql import ChSqlError
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark=spark)
    eng.sql("CREATE TABLE reg_bak ENGINE = MergeTree AS SELECT * FROM region")
    path = str(tmp_path / "reg_backup")
    st = eng.sql(f"BACKUP TABLE reg_bak TO File('{path}')").first()
    assert st.status == "BACKUP_CREATED"

    eng.sql("DELETE FROM reg_bak WHERE r_regionkey < 3")
    assert eng.sql("SELECT count(*) AS n FROM reg_bak").first().n == 2
    eng.sql(f"RESTORE TABLE reg_bak FROM File('{path}')")
    assert eng.sql("SELECT count(*) AS n FROM reg_bak").first().n == 5

    with pytest.raises(ChSqlError, match="no backup"):
        eng.sql("RESTORE TABLE reg_bak FROM File('/nonexistent/backup')")


def test_into_outfile_parquet(spark, sf_dir, tmp_path):
    """FORMAT Parquet / .parquet extension routes INTO OUTFILE through the
    distributed writer and the file round-trips."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark=spark)
    out = str(tmp_path / "flags.parquet")
    msg = eng.run(
        "SELECT l_returnflag, count() AS n FROM lineitem "
        f"GROUP BY l_returnflag INTO OUTFILE '{out}'"
    )
    assert msg.startswith("3 rows written")
    back = spark.read.parquet(out)
    assert back.count() == 3 and set(back.columns) == {"l_returnflag", "n"}


def test_vocab_r5_kernels(spark):
    """Round-5 vocabulary kernels: base58 known-answer + leading-zero-byte
    padding, byteSwap 32/64 hand values, widthBucket boundary semantics,
    tupleHammingDistance NULL safety."""
    from clickhouseocp_spark.functions.clickhouse_names import (
        _b58_decode_str,
        _b58_encode_bytes,
    )

    assert _b58_encode_bytes(b"Hello World!") == "2NEpo7TZRRrLZSi2U"
    assert _b58_decode_str("2NEpo7TZRRrLZSi2U") == b"Hello World!"
    # leading zero bytes map to leading '1's and survive the round trip
    assert _b58_encode_bytes(b"\x00\x00abc").startswith("11")
    assert _b58_decode_str(_b58_encode_bytes(b"\x00\x00abc")) == b"\x00\x00abc"

    df = spark.range(1)
    row = df.select(
        ch.byteSwap(F.lit(0x12345678), bits=32).alias("b32"),
        ch.byteSwap(F.lit(0x0102030405060708), bits=64).alias("b64"),
        ch.widthBucket(F.lit(799.99), 800.0, 1200.0, 10).alias("under"),
        ch.widthBucket(F.lit(1200.0), 800.0, 1200.0, 10).alias("over"),
        ch.widthBucket(F.lit(800.0), 800.0, 1200.0, 10).alias("first"),
        ch.tupleHammingDistance(
            F.struct(F.lit(1).alias("a"), F.lit(None).cast("int").alias("b")),
            F.struct(F.lit(1).alias("a"), F.lit(2).alias("b")),
            fields=("a", "b"),
        ).alias("ham"),
    ).first()
    assert row.b32 == 0x78563412
    assert row.b64 == 0x0807060504030201
    assert (row.under, row.over, row.first) == (0, 11, 1)
    assert row.ham == 1  # NULL vs 2 differs; 1 vs 1 matches (NULL-safe)


def test_with_fill_staleness_text_path(spark, sf_dir):
    """ORDER BY ... WITH FILL STALENESS (CH 25.1) through the engine TEXT
    path: fills extend at most staleness-1 steps past each observed row;
    wider gaps stay gaps, and fills trail past the LAST observed row too
    (CH docs: keys 0,5,10,15 STALENESS 3 emit 15,16,17).  Hand-computed:
    keys {1, 2, 9, 20}, staleness 4 → 1,2 (+3,4,5 after 2), 9 (+10,11,12),
    20 (+21,22,23)."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark=spark)
    out = eng.sql(
        "SELECT toInt64(o_orderkey) AS k, count() AS n FROM orders "
        "WHERE o_orderkey IN (1, 2, 9, 20) GROUP BY k "
        "ORDER BY k WITH FILL STALENESS 4"
    )
    rows = {r.k: r.n for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4, 5, 9, 10, 11, 12, 20, 21, 22, 23}
    assert rows[3] == 0 and rows[10] == 0 and rows[23] == 0
    assert rows[1] >= 1 and rows[9] >= 1


def test_indexed_vector_and_shingles_edges(spark):
    """numericIndexedVector ops + arrayShingles edge semantics: multiply is
    an index intersection (sparse zero==absent), add is a union, shingles
    of an array shorter than n are empty (no descending-sequence blowup),
    mapPopulateSeries fills interior gaps only."""
    from clickhouseocp_spark.functions import indexed_vector as iv

    df = spark.createDataFrame(
        [({0: 1.0, 2: 3.0}, {2: 10.0, 5: 4.0})], "a map<long,double>, b map<long,double>"
    )
    row = df.select(
        iv.pointwise_add(F.col("a"), F.col("b")).alias("add"),
        iv.pointwise_multiply(F.col("a"), F.col("b")).alias("mul"),
        F.round(iv.all_value_sum(iv.pointwise_add(F.col("a"), F.col("b"))), 6).alias("s"),
        iv.get_value(F.col("a"), 7).alias("missing"),
        ch.mapPopulateSeries(F.col("a")).alias("filled"),
    ).first()
    assert dict(row.add) == {0: 1.0, 2: 13.0, 5: 4.0}
    assert dict(row.mul) == {2: 30.0}  # intersection only
    assert row.s == 18.0 and row.missing == 0.0
    assert dict(row.filled) == {0: 1.0, 1: 0.0, 2: 3.0}

    sh = spark.createDataFrame([([1, 2],), ([1, 2, 3, 4],)], "arr array<int>")
    got = [r.s for r in sh.select(ch.arrayShingles(F.col("arr"), 3).alias("s")).collect()]
    assert got[0] == []  # shorter than n -> empty, not descending windows
    assert [list(x) for x in got[1]] == [[1, 2, 3], [2, 3, 4]]


def test_review_fixes_round5(spark):
    """Regression pins for the round-5 review findings: byteSwap(64) on a
    sign-byte input under ANSI mode, firstSignificantSubdomain with
    userinfo/port, mapPopulateSeries({}) == {}, isValidJSON('null'),
    pointwise_add key ordering after a union of different key sets."""
    from clickhouseocp_spark.functions import indexed_vector as iv

    row = spark.range(1).select(
        # low byte 0xC8 lands in the sign byte after the swap — must not
        # ARITHMETIC_OVERFLOW under the session's ANSI pin
        ch.byteSwap(F.lit(200), bits=64).alias("b64neg"),
        ch.firstSignificantSubdomain(
            F.lit("https://u:p@www.example.co.uk:8443/x")
        ).alias("fsd"),
        ch.mapPopulateSeries(
            F.map_filter(
                F.create_map(F.lit(1).cast("long"), F.lit(1.0)),
                lambda k, v: F.lit(False),
            )
        ).alias("empty_filled"),
        ch.isValidJSON(F.lit("null")).alias("null_ok"),
        ch.isValidJSON(F.lit("{broken")).alias("broken_ok"),
        iv.to_readable(
            iv.pointwise_add(
                F.create_map(F.lit(6).cast("long"), F.lit(1.0)),
                F.create_map(F.lit(2).cast("long"), F.lit(2.0)),
            )
        ).alias("sorted_add"),
    ).first()
    assert row.b64neg == int.from_bytes(bytes([200] + [0] * 7), "big", signed=True)
    assert row.fsd == "example"
    assert dict(row.empty_filled) == {}
    assert row.null_ok is True and row.broken_ok is False
    assert row.sorted_add == "2:2.00,6:1.00"  # keys ascending, not zip order


def test_vocab_r6_edges(spark):
    """Round-6 vocabulary edge pins: array rotation identity on singletons,
    over-length shifts padding fully, negative-n sign semantics,
    formatDateTime literal codes (%n newline, %t tab, %%), topLevelDomain /
    cutToFirstSignificantSubdomain on dotless hosts, and
    parseDateTimeBestEffort rejecting garbage while accepting epoch digits."""
    from clickhouseocp_spark.chsql import transpile

    row = spark.sql(
        transpile(
            "SELECT arrayRotateLeft([1,2,3], -1) AS neg_rot, "
            "arrayShiftLeft([1,2,3], -2, 0) AS neg_shift, "
            "formatDateTime(TIMESTAMP '1995-03-07 14:30:05', '%H%t%i%n%S%%') AS lit"
        )
    ).first()
    assert list(row.neg_rot) == [3, 1, 2]  # negative left = right rotation
    assert list(row.neg_shift) == [0, 0, 1]  # negative left = right shift
    assert row.lit == "14\t30\n05%"

    row2 = spark.range(1).select(
        ch.topLevelDomain(F.lit("https://svn.example.com/x")).alias("tld"),
        ch.topLevelDomain(F.lit("http://localhost/x")).alias("tld_dotless"),
        ch.cutToFirstSignificantSubdomain(
            F.lit("https://u@a.b.example.co.uk:443/p")
        ).alias("cut"),
        ch.parseDateTimeBestEffort(F.lit("794500205")).alias("epoch"),
        ch.parseDateTimeBestEffort(F.lit("garbage")).alias("bad"),
    ).first()
    assert row2.tld == "com" and row2.tld_dotless == ""
    assert row2.cut == "example.co.uk"
    assert row2.epoch is not None and row2.bad is None


def test_vocab_r6_batch_c(spark):
    """Batch-C pins: URLHierarchy reproduces the CH docs example verbatim;
    URLPathHierarchy drops the bare '/'; punycode/IDNA match the RFC
    vectors; jumpConsistentHash matches the paper's minimal-movement shape
    across consecutive bucket counts on a key range."""
    row = spark.range(1).select(
        ch.URLHierarchy(
            F.lit("https://example.com/browse/CONFERENCES/bays/abandoned")
        ).alias("h"),
        ch.URLPathHierarchy(
            F.lit("https://example.com/browse/CONFERENCES/bays/abandoned")
        ).alias("p"),
    ).first()
    assert list(row.h) == [
        "https://example.com/",
        "https://example.com/browse/",
        "https://example.com/browse/CONFERENCES/",
        "https://example.com/browse/CONFERENCES/bays/",
        "https://example.com/browse/CONFERENCES/bays/abandoned",
    ]
    assert list(row.p) == [
        "/browse/",
        "/browse/CONFERENCES/",
        "/browse/CONFERENCES/bays/",
        "/browse/CONFERENCES/bays/abandoned",
    ]

    jdf = spark.range(0, 500).select(
        ch.jumpConsistentHash(F.col("id"), 10).alias("b10"),
        ch.jumpConsistentHash(F.col("id"), 11).alias("b11"),
    )
    rows = jdf.collect()
    assert all(0 <= r.b10 < 10 and 0 <= r.b11 < 11 for r in rows)
    moved = [r for r in rows if r.b10 != r.b11]
    assert all(r.b11 == 10 for r in moved)  # moves land ONLY in the new bucket
    assert 0 < len(moved) < 120  # ~1/11 of 500 ≈ 45, generous bounds


def test_alter_add_fulltext_index(spark, sf_dir):
    """ALTER TABLE ... ADD INDEX ... TYPE full_text (CH 25.x experimental
    skipping index): builds the postings table as <table>__idx_<name>, the
    index-path semi-join equals the hasToken scan, MATERIALIZE INDEX is an
    accepted no-op, DROP INDEX removes the view."""
    eng = ChSparkEngine(sf_dir, spark=spark)
    try:
        eng.sql(
            "ALTER TABLE documents ADD INDEX ft (text) TYPE full_text GRANULARITY 1"
        )
        assert "documents__idx_ft" in eng.tables
        idx_n = eng.sql(
            "SELECT count() AS n FROM documents WHERE doc_id IN "
            "(SELECT doc_id FROM documents__idx_ft WHERE token = 'vector')"
        ).collect()[0].n
        scan_n = eng.sql(
            "SELECT count() AS n FROM documents WHERE hasToken(text, 'vector')"
        ).collect()[0].n
        assert idx_n == scan_n > 0
        eng.sql("ALTER TABLE documents MATERIALIZE INDEX ft")
        for drop in ("DROP INDEX", "CLEAR INDEX"):
            eng.sql("ALTER TABLE documents ADD INDEX ft (text) TYPE full_text")
            eng.sql(f"ALTER TABLE documents {drop} ft")
            assert "documents__idx_ft" not in eng.tables, drop
            assert not spark.catalog.tableExists("documents__idx_ft"), drop
    finally:
        eng.tables.pop("documents__idx_ft", None)


def test_round7_output_formats(spark):
    """Round-7 format additions: WithNamesAndTypes headers, TSKV,
    JSONCompact[EachRow], SQLInsert."""
    import json as _json

    from clickhouseocp_spark.formats import render

    df = spark.createDataFrame([(1, "a'b"), (2, None)], "k int, s string").orderBy("k")
    t = render(df, "TabSeparatedWithNamesAndTypes")
    assert t.splitlines()[:2] == ["k\ts", "Int32\tString"]
    c = render(df, "CSVWithNamesAndTypes")
    assert c.splitlines()[1] == "Int32,String"
    assert render(df, "TSKV").splitlines()[0] == "k=1\ts=a'b"
    jc = render(df, "JSONCompactEachRow").splitlines()
    assert _json.loads(jc[0]) == [1, "a'b"] and _json.loads(jc[1]) == [2, None]
    doc = _json.loads(render(df, "JSONCompact"))
    assert doc["rows"] == 2 and doc["data"][0] == [1, "a'b"]
    assert doc["meta"][0] == {"name": "k", "type": "Int32"}
    si = render(df, "SQLInsert")
    assert si == "INSERT INTO table (k, s) VALUES (1, 'a\\'b'), (2, NULL);\n"


def test_cli_main_entry(sf_dir):
    """python -m clickhouseocp_spark -q ... — the clickhouse-local entry
    surface (arg parsing + in-process main; no subprocess so the module
    Spark session is reused)."""
    import io
    from contextlib import redirect_stdout

    from clickhouseocp_spark.__main__ import main

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main([
            "-q", "SELECT count() AS n FROM region",
            "-q", "SELECT 41 + 1 FORMAT CSV",
            "--sf-dir", sf_dir,
        ])
    assert rc == 0
    lines = [line for line in buf.getvalue().splitlines() if line.strip()]
    assert lines[0] == "5" and lines[-1] == "42"


def test_information_schema_compat(spark, sf_dir):
    """The information_schema compat layer (CH ships it for BI tools):
    tables/columns/schemata with SQL-standard column names, reachable via
    dotted names through the text path."""
    eng = ChSparkEngine(sf_dir, spark=spark)
    tbls = {
        r.table_name
        for r in eng.sql(
            "SELECT table_name FROM information_schema.tables"
        ).collect()
    }
    assert {"region", "nation", "lineitem"} <= tbls
    cols = eng.sql(
        "SELECT column_name, data_type, ordinal_position "
        "FROM information_schema.columns WHERE table_name = 'region' "
        "ORDER BY ordinal_position"
    ).collect()
    assert [(c.column_name, c.ordinal_position) for c in cols] == [
        ("r_regionkey", 1), ("r_name", 2),
    ]
    sch = eng.sql("SELECT * FROM information_schema.schemata").first()
    assert sch.schema_name == "default"


def test_mergetree_ttl_lifecycle(spark, sf_dir):
    """Row TTL: stored at DDL (bare column-list and CTAS forms), expired
    rows stay readable until OPTIMIZE applies the merge (CH's lazy TTL),
    a future-horizon TTL deletes nothing."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    eng.sql(
        "CREATE TABLE ttl_t ENGINE = MergeTree ORDER BY event_id "
        "TTL if(event_type = 'click', ts, ts + INTERVAL 100 YEAR) "
        "AS SELECT * FROM events",
        dialect="clickhouse",
    )
    before = {
        r.event_type
        for r in eng.sql(
            "SELECT DISTINCT event_type FROM ttl_t", dialect="ch"
        ).collect()
    }
    assert "click" in before  # lazy: expired rows visible pre-merge
    eng.sql("OPTIMIZE TABLE ttl_t FINAL", dialect="clickhouse")
    after = {
        r.event_type
        for r in eng.sql(
            "SELECT DISTINCT event_type FROM ttl_t", dialect="ch"
        ).collect()
    }
    assert "click" not in after and after == before - {"click"}
    # bare-DDL form parses TTL too; future horizon deletes nothing
    eng.sql(
        "CREATE TABLE ttl_b (event_id Int64, ts DateTime) "
        "ENGINE = MergeTree ORDER BY event_id TTL ts + INTERVAL 100 YEAR",
        dialect="clickhouse",
    )
    eng.sql(
        "INSERT INTO ttl_b SELECT event_id, ts FROM events LIMIT 10",
        dialect="clickhouse",
    )
    eng.sql("OPTIMIZE TABLE ttl_b FINAL", dialect="clickhouse")
    n = eng.sql("SELECT count() AS n FROM ttl_b", dialect="ch").collect()[0].n
    assert n == 10


def test_ttl_metadata_lifecycle(spark, sf_dir):
    """TTL is table metadata (round-9 advisory fix): DROP TABLE clears it,
    re-CREATE without a TTL clause does not inherit the old expression,
    UNDROP restores it, and OPTIMIZE ... DEDUPLICATE applies TTL too (CH
    merges always apply TTL, deduplicating merges included)."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    eng.sql(
        "CREATE TABLE ttl_m ENGINE = MergeTree ORDER BY event_id "
        "TTL if(event_type = 'click', ts, ts + INTERVAL 100 YEAR) "
        "AS SELECT * FROM events",
        dialect="clickhouse",
    )
    total = eng.sql("SELECT count() AS n FROM ttl_m", dialect="ch").first().n
    # DEDUPLICATE merge applies the TTL as well (rows are already unique,
    # so any row loss is the TTL filter, not the dedup)
    eng.sql("OPTIMIZE TABLE ttl_m FINAL DEDUPLICATE", dialect="clickhouse")
    kept = eng.sql("SELECT count() AS n FROM ttl_m", dialect="ch").first().n
    assert kept < total
    types = {
        r.event_type
        for r in eng.sql(
            "SELECT DISTINCT event_type FROM ttl_m", dialect="ch"
        ).collect()
    }
    assert "click" not in types
    # DROP parks the TTL; a re-created same-named table without TTL must
    # not inherit it — OPTIMIZE deletes nothing
    eng.sql("DROP TABLE ttl_m", dialect="clickhouse")
    eng.sql(
        "CREATE TABLE ttl_m ENGINE = MergeTree ORDER BY event_id "
        "AS SELECT * FROM events",
        dialect="clickhouse",
    )
    eng.sql("OPTIMIZE TABLE ttl_m FINAL", dialect="clickhouse")
    n2 = eng.sql("SELECT count() AS n FROM ttl_m", dialect="ch").first().n
    assert n2 == total
    # UNDROP restores the parked TTL alongside the lineage
    eng.sql("DROP TABLE ttl_m", dialect="clickhouse")
    eng.sql(
        "CREATE TABLE ttl_u ENGINE = MergeTree ORDER BY event_id "
        "TTL if(event_type = 'click', ts, ts + INTERVAL 100 YEAR) "
        "AS SELECT * FROM events",
        dialect="clickhouse",
    )
    eng.sql("DROP TABLE ttl_u", dialect="clickhouse")
    eng.sql("UNDROP TABLE ttl_u", dialect="clickhouse")
    eng.sql("OPTIMIZE TABLE ttl_u FINAL", dialect="clickhouse")
    types_u = {
        r.event_type
        for r in eng.sql(
            "SELECT DISTINCT event_type FROM ttl_u", dialect="ch"
        ).collect()
    }
    assert "click" not in types_u


def test_clear_column_type_defaults(spark, sf_dir):
    """ALTER TABLE ... CLEAR COLUMN resets to the CH TYPE DEFAULT (round-9
    advisory fix): epoch timestamp for DateTime, empty array — not NULL."""
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark)
    eng.sql(
        "CREATE TABLE cc_t ENGINE = Memory AS "
        "SELECT event_id, ts, event_type, array(event_id, 1) AS arr "
        "FROM events LIMIT 5",
        dialect="clickhouse",
    )
    eng.sql("ALTER TABLE cc_t CLEAR COLUMN ts", dialect="clickhouse")
    eng.sql("ALTER TABLE cc_t CLEAR COLUMN arr", dialect="clickhouse")
    eng.sql("ALTER TABLE cc_t CLEAR COLUMN event_type", dialect="clickhouse")
    rows = eng.sql(
        "SELECT ts, arr, event_type FROM cc_t", dialect="ch"
    ).collect()
    assert all(r.ts is not None and r.ts.year == 1970 for r in rows)
    assert all(r.arr == [] for r in rows)
    assert all(r.event_type == "" for r in rows)


def test_system_views_are_built_fresh(spark, sf_dir):
    """A statement that names a system view gets it built as of that
    statement: a CTAS and an ADD COLUMN made after an earlier system read
    show up in system.tables/columns/parts and information_schema.tables."""
    eng = ChSparkEngine(sf_dir, spark=spark)

    def one(sql: str):
        return eng.sql(sql, dialect="clickhouse").collect()[0].n

    assert one("SELECT count() AS n FROM system.tables WHERE name = 'fresh_t'") == 0
    n_cols = len(eng.tables["region"].columns)
    n_rows = eng.tables["region"].count()
    try:
        eng.sql("CREATE TABLE fresh_t ENGINE = MergeTree AS SELECT * FROM region")
        assert one("SELECT count() AS n FROM system.tables WHERE name = 'fresh_t'") == 1
        assert one(
            "SELECT count() AS n FROM system.columns WHERE table = 'fresh_t'"
        ) == n_cols
        assert one(
            "SELECT sum(rows) AS n FROM system.parts WHERE table = 'fresh_t'"
        ) == n_rows
        assert one(
            "SELECT count() AS n FROM information_schema.tables "
            "WHERE table_name = 'fresh_t'"
        ) == 1
        eng.sql("ALTER TABLE region ADD COLUMN pop Int64")
        assert one(
            "SELECT count() AS n FROM system.columns WHERE table = 'region'"
        ) == n_cols + 1
    finally:
        # engines on one session share the fixture views: put region back
        eng.sql("ALTER TABLE region DROP COLUMN IF EXISTS pop")
        eng.sql("DROP TABLE IF EXISTS fresh_t")


def test_drop_unknown_table_raises(spark, sf_dir):
    """DROP TABLE of a name that does not exist raises the unknown-table
    error (CH code 60 over HTTP), as TRUNCATE does; IF EXISTS makes it a
    no-op."""
    import pytest

    from clickhouseocp_spark.server import exception_code

    eng = ChSparkEngine(sf_dir, spark=spark)
    for stmt in ("DROP TABLE no_such_table", "TRUNCATE TABLE no_such_table"):
        with pytest.raises(KeyError, match="unknown table") as exc:
            eng.sql(stmt)
        assert exception_code(exc.value) == 60, stmt
    assert eng.sql("DROP TABLE IF EXISTS no_such_table").columns == ["dropped"]


def test_drop_view_removes_parameterized_view(spark, sf_dir):
    """DROP VIEW of a parameterized view removes it: a later call of the
    view fails instead of answering from the dropped definition."""
    eng = ChSparkEngine(sf_dir, spark=spark)
    eng.sql(
        "CREATE VIEW nations_in AS "
        "SELECT n_nationkey FROM nation WHERE n_regionkey = {r:UInt8}"
    )
    query = "SELECT count() AS n FROM nations_in(r = 1)"
    assert eng.sql(query, dialect="clickhouse").collect()[0].n == 5
    eng.sql("DROP VIEW nations_in")
    import pytest

    with pytest.raises(Exception, match="(?i)nations_in"):
        eng.sql(query, dialect="clickhouse").collect()


def test_statement_table_routing(spark, sf_dir):
    """One table routes every DDL/DML/ops statement: overlapping forms keep
    their precedence, a misspelled form raises ``unsupported statement``,
    and the write flag is what readonly=1 refuses."""
    import pytest

    from clickhouseocp_spark.chsql import ChSqlError
    from clickhouseocp_spark.engine import match_statement, statement_writes

    def handler(stmt: str) -> str:
        return match_statement(stmt)[0].handler.__name__

    assert handler(
        "CREATE MATERIALIZED VIEW mv REFRESH EVERY 1 HOUR AS SELECT 1"
    ) == "_create_refreshable_view"
    assert handler("CREATE MATERIALIZED VIEW mv AS SELECT 1") == "_create_view"
    assert handler(
        "CREATE TABLE k (a String) ENGINE = Kafka SETTINGS kafka_topic_list = 't'"
    ) == "_create_kafka_table"
    assert handler("CREATE TABLE k (a String) ENGINE = Memory") == "_create_empty_table"
    assert handler("CREATE TABLE k ENGINE = MergeTree AS SELECT 1") == "_create_table_as"
    assert handler("SYSTEM REFRESH VIEW mv") == "_refresh_view"
    assert handler("SYSTEM FLUSH LOGS") == "_acknowledge"
    assert handler("DROP ROW POLICY p ON t") == "_drop_row_policy"
    assert handler("DROP VIEW v") == "_drop_table"
    assert handler("INSERT INTO t FORMAT CSV 1,2") == "_insert_text"
    assert handler("INSERT INTO t SELECT 1") == "_insert_select"
    assert match_statement("ALTER TABLE Region DROP COLUMN x")[1]["t"] == "region"
    assert match_statement("SELECT 1") is None

    eng = ChSparkEngine(sf_dir, spark=spark)
    with pytest.raises(ChSqlError, match="unsupported statement"):
        eng.sql("ALTER TABLE region FROB COLUMN r_name")
    with pytest.raises(ChSqlError, match="cannot parse SET statement"):
        eng.sql("SET max_threads")
    for stmt in ("RESTORE TABLE t FROM File('x')", "BACKUP TABLE t TO 'x'",
                 "SYSTEM REFRESH VIEW mv", "ALTER TABLE t FROB COLUMN x"):
        assert statement_writes(stmt), stmt
    for stmt in ("SELECT 1", "SET a = 1", "CHECK TABLE t", "SYSTEM FLUSH LOGS",
                 "KILL QUERY WHERE query_id = 'q'", "SHOW TABLES"):
        assert not statement_writes(stmt), stmt


def test_columns_matcher_without_match_is_a_chsql_error(spark, sf_dir):
    """COLUMNS('re') matching no column raises ChSqlError (CH code 62 over
    HTTP), not a NameError from the engine."""
    import pytest

    from clickhouseocp_spark.chsql import ChSqlError

    eng = ChSparkEngine(sf_dir, spark=spark)
    with pytest.raises(ChSqlError, match="matched no columns"):
        eng.sql("SELECT COLUMNS('^zz') FROM region", dialect="clickhouse")
