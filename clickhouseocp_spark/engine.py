"""Engine front door — the `clickhouse-local` analog (SURVEY.md §3.3).

The reference's primary entry points are SQL over a server (ports 8123/9000,
Dockerfile:203-206) or the embedded `clickhouse-local` binary
(Dockefile-ubuntu:52).  The Spark-native equivalent is a SparkSession with
the fixture catalog registered; this class packages that: one object that a
reference user points at a data directory and queries with SQL text or the
named operator registry.

    eng = ChSparkEngine(sf_dir="/data")     # ≈ clickhouse-local --path /data
    eng.sql("SELECT count(*) FROM lineitem").show()
    eng.query("q1_pricing_summary")          # named operator registry
    eng.ch.toYYYYMM(...)                     # ClickHouse function vocabulary
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from clickhouseocp_spark.catalog import _session_key, local_frame, register_tables
from clickhouseocp_spark.functions import clickhouse_names as _ch
from clickhouseocp_spark.session import get_spark


def detect_trailing_format(query: str) -> str | None:
    """The trailing ``FORMAT <name>`` of a statement, or None when absent —
    or when the statement is an INSERT (there the FORMAT names the INPUT
    data format, not a rendering).  The single source of truth shared by
    ``ChSparkEngine.run`` and the HTTP layer (``server.py``) so rendering
    and Content-Type can never desynchronize."""
    import re as _re

    head = query.lstrip().split(None, 1)[0].upper() if query.strip() else ""
    if head == "INSERT":
        return None
    m = _re.search(r"\bFORMAT\s+(\w+)\s*;?\s*$", query, _re.IGNORECASE)
    return m.group(1) if m else None


def strip_trailing_format(query: str) -> str:
    """The statement without its trailing ``FORMAT <name>`` clause (no-op
    when absent / INSERT) — for callers that render out-of-band."""
    import re as _re

    if detect_trailing_format(query) is None:
        return query
    return _re.sub(r"\bFORMAT\s+\w+\s*;?\s*$", "", query, flags=_re.IGNORECASE)


def _executed_plan_metrics(df: DataFrame) -> tuple[int | None, int | None]:
    """(read_rows, peak_memory_bytes) from an EXECUTED plan's SQLMetric
    accumulators — the values a JVM ``QueryExecutionListener.onSuccess``
    would see (PySpark has no Python binding for that interface, so
    :meth:`ChSparkEngine.run_logged` reads them right after the action).

    read_rows = Σ numOutputRows over scan leaves (what left storage — CH's
    own definition); peak = Σ peakMemory over operators.  AQE wraps stages
    in QueryStage/AdaptiveSparkPlan nodes whose children() is empty — the
    walk descends through their executedPlan()/plan() accessors."""
    root = df._jdf.queryExecution().executedPlan()
    read_rows = 0
    peak = 0
    saw_scan = False
    stack = [root]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        if name.startswith(("Scan", "LocalTableScan", "Range")):
            saw_scan = True
            read_rows += int(metrics.get("numOutputRows", 0))
        if "peakMemory" in metrics:
            peak += int(metrics["peakMemory"])
        kids = [node.children().apply(i) for i in range(node.children().size())]
        if not kids:
            for meth in ("executedPlan", "plan", "child"):
                try:
                    inner = getattr(node, meth)()
                except Exception:
                    continue
                if inner is not None and hasattr(inner, "nodeName"):
                    kids = [inner]
                    break
        stack.extend(kids)
    return (read_rows if saw_scan else None, peak or None)


def _split_assignments(text: str) -> list[str]:
    """Split `a = e1, b = e2` on top-level commas (string/paren aware)."""
    from clickhouseocp_spark.chsql import _split_top, render, tokenize

    return [render(p) for p in _split_top(tokenize(text), ",") if p]


#: Sessions whose CH-named UDFs are registered: temp functions live as long
#: as the session, and registering about 20 pandas UDFs takes about 0.2 s.
_UDF_SESSIONS: set[str] = set()


class ChSparkEngine:
    """SQL + named-query engine over a fixture/data directory."""

    #: ClickHouse-named function vocabulary (functions/clickhouse_names.py)
    ch = _ch

    def __init__(self, sf_dir: str, spark: SparkSession | None = None):
        self.spark = spark or get_spark("ChSparkEngine")
        self.sf_dir = sf_dir
        self.tables = register_tables(self.spark, sf_dir)
        self._register_udfs()

    def _register_udfs(self) -> None:
        """CH scalar names with no Spark builtin, exposed to SQL TEXT as
        registered pandas UDFs (once per session)."""
        key = _session_key(self.spark)
        if key in _UDF_SESSIONS:
            return
        from clickhouseocp_spark.functions.series_fft import register_series_udfs
        from clickhouseocp_spark.functions.text import register_ch_udfs

        register_ch_udfs(self.spark)
        # the FFT period kernel backs both the CH name and the KQL
        # series_periods_detect subset lowering
        register_series_udfs(self.spark)
        from clickhouseocp_spark.functions.stats_dist import register_dist_udfs
        from clickhouseocp_spark.functions.stl import register_stl_udfs

        register_stl_udfs(self.spark)
        register_dist_udfs(self.spark)
        _UDF_SESSIONS.add(key)

    def sql(
        self, query: str, dialect: str = "auto", params: dict | None = None
    ) -> DataFrame:
        """SQL entry point (Catalyst = parser/analyzer/optimizer/executor,
        SURVEY §3.3).

        ``dialect="clickhouse"`` transpiles CH-dialect text (chsql.transpile —
        the `clickhouse-local -q` surface, Dockefile-ubuntu:52) before
        planning; ``"spark"`` skips transpilation; ``"auto"`` (default) tries
        native Spark SQL first and falls back to the CH transpiler when
        parsing/analysis rejects the text.

        ``params`` binds ``{name:Type}`` query parameters (the
        clickhouse-client ``--param_name`` surface) as typed literals before
        dispatch, so the cache key and query log see the bound text.

        Every call is recorded in ``system.query_log`` (the reference image
        configures a `system.query_log` MergeTree table, Dockerfile:225-230);
        see :meth:`system_query_log` for the logged columns."""
        import time as _time

        if params:
            from clickhouseocp_spark.chsql import bind_params

            query = bind_params(query, params)
        t0 = _time.perf_counter()
        ok = True
        try:
            head = query.lstrip().split(None, 1)[0].upper() if query.strip() else ""
            if (
                getattr(self, "settings", {}).get("use_query_cache")
                in ("1", "true", "True")
                and head in ("SELECT", "WITH", "FROM")
            ):
                # query cache (CH `use_query_cache`, 23.x+): SELECT results
                # keyed by whitespace-normalized text + dialect, persisted so
                # repeat executions read the in-memory columnar copy
                key = (dialect, " ".join(query.split()))
                cache = getattr(self, "_query_cache", None)
                if cache is None:
                    cache = self._query_cache = {}
                if key not in cache:
                    cache[key] = self._sql_impl(query, dialect).persist()
                return cache[key]
            return self._sql_impl(query, dialect)
        except Exception:
            ok = False
            raise
        finally:
            self._log_query(query, dialect, (_time.perf_counter() - t0) * 1e3, ok)

    def _log_query(
        self, query: str, dialect: str, duration_ms: float, ok: bool
    ) -> None:
        import time as _time

        log = getattr(self, "_query_log", None)
        if log is None:
            log = self._query_log = []
        head = query.lstrip().split(None, 1)[0].upper() if query.strip() else ""
        log.append(
            (
                len(log) + 1,
                _time.strftime("%Y-%m-%d %H:%M:%S", _time.gmtime()),
                head or "EMPTY",
                query,
                dialect,
                round(duration_ms, 3),
                "QueryFinish" if ok else "ExceptionWhileProcessing",
                _time.strftime("%Y-%m-%d", _time.gmtime()),
                None,  # read_rows — filled by run()'s executed-plan capture
                None,  # result_rows
                None,  # memory_usage
            )
        )

    def run_logged(self, query: str, dialect: str = "auto", params=None) -> list:
        """Execute a statement EAGERLY and complete its ``system.query_log``
        row with executed-plan metrics — ``read_rows`` (storage rows leaving
        the scans), ``result_rows`` (rows returned) and ``memory_usage``
        (summed operator peak memory), the same columns the reference
        image's query_log MergeTree records (Dockerfile:225-230).

        PySpark exposes NO Python binding for the JVM
        ``QueryExecutionListener`` interface (only StreamingQueryListener is
        bridged), so the capture point is the action itself: the SQLMetric
        accumulators are read from the executed plan immediately after
        ``collect()`` — exactly the values the JVM listener's ``onSuccess``
        would observe.  ``sql()`` stays lazy and logs a dispatch-only row;
        callers that need full telemetry route through here (the CLI and
        HTTP server materialize results anyway)."""
        df = self.sql(query, dialect=dialect, params=params)
        rows = df.collect()
        try:
            read_rows, peak = _executed_plan_metrics(df)
        except Exception:  # metric walk is best-effort telemetry, never fatal
            read_rows, peak = None, None
        log = getattr(self, "_query_log", None)
        if log:
            last = log[-1]
            log[-1] = last[:8] + (read_rows, len(rows), peak)
        return rows

    def system_query_log(self) -> DataFrame:
        """`system.query_log` analog (Dockerfile:225-230 creates it as a
        MergeTree table partitioned by toYYYYMM(event_date)).  Spark execution
        is lazy, so for ``sql()``-dispatched statements ``query_duration_ms``
        covers dispatch + parse + plan and the execution metrics are NULL;
        :meth:`run_logged` completes read_rows / result_rows / memory_usage from the
        executed plan.  Columns follow the CH names: type, event_date,
        event_time, query_kind, query, query_duration_ms, read_rows,
        result_rows, memory_usage plus the engine-specific dialect tag."""
        rows = list(getattr(self, "_query_log", []))
        return local_frame(
            self.spark, rows,
            "query_id bigint, event_time string, query_kind string, "
            "query string, dialect string, query_duration_ms double, "
            "type string, event_date string, read_rows bigint, "
            "result_rows bigint, memory_usage bigint",
        )

    def flush_query_log(self, path: str) -> str:
        """Persist the in-memory query log as PARQUET partitioned by
        ``event_yyyymm`` — the reference image's own layout (its query_log
        MergeTree is ``PARTITION BY toYYYYMM(event_date)``,
        Dockerfile:225-230).  Append-mode so periodic flushes accumulate
        like CH's background flush; re-read it with
        ``spark.read.parquet(path)`` or register it over the text path."""
        from pyspark.sql import functions as F

        df = self.system_query_log().withColumn(
            "event_yyyymm",
            F.date_format(F.to_date("event_date"), "yyyyMM").cast("int"),
        )
        df.write.partitionBy("event_yyyymm").mode("append").parquet(path)
        return path

    #: CH session settings with a direct Spark-conf analog; everything else
    #: is accepted and recorded (CH tolerates hundreds of settings — erroring
    #: would break real ops scripts), queryable via getattr(eng, 'settings')
    _SETTING_MAP = {
        "max_threads": "spark.sql.shuffle.partitions",
        "session_timezone": "spark.sql.session.timeZone",
        "timezone": "spark.sql.session.timeZone",
    }

    def _set_statement(self, query: str) -> DataFrame:
        """``SET name = value`` (the clickhouse-client session-settings
        surface; the reference image's profiles set these same knobs,
        Dockerfile:246-252).  ``SET dialect = 'prql'|'clickhouse'`` switches
        the auto-path default, mirroring upstream's PRQL toggle."""
        import re as _re

        from clickhouseocp_spark.chsql import ChSqlError

        m = _re.match(
            r"(?is)^SET\s+(\w+)\s*=\s*('[^']*'|\S+?)\s*;?\s*$", query.strip()
        )
        if not m:
            raise ChSqlError(f"cannot parse SET statement: {query!r}")
        name, value = m.group(1).lower(), m.group(2).strip().strip("'")
        if not hasattr(self, "settings"):
            self.settings: dict[str, str] = {}
        self.settings[name] = value
        if name == "dialect":
            self._default_dialect = value
        elif name in self._SETTING_MAP:
            self.spark.conf.set(self._SETTING_MAP[name], value)
        if getattr(self, "_system_views_done", False):
            # keep the system.settings view current (changed-flag semantics)
            self.system_settings().createOrReplaceTempView("system_settings")
        return local_frame(
            self.spark, [(name, value)], "setting string, value string"
        ).limit(0)

    def system_metrics(self) -> DataFrame:
        """`system.metrics`-style counters derived from live session state
        (the CH table is a point-in-time gauge set; ours is the subset a
        library engine can honestly report)."""
        log = getattr(self, "_query_log", [])
        rows = [
            ("Query", len(log), "statements dispatched through engine.sql"),
            (
                "FailedQuery",
                sum(1 for r in log if r[6] == "ExceptionWhileProcessing"),
                "statements that raised",
            ),
            ("TablesRegistered", len(self.tables), "tables in the session catalog"),
            (
                "QueryCacheEntries",
                len(getattr(self, "_query_cache", {})),
                "persisted SELECT results (use_query_cache)",
            ),
            (
                "SettingsChanged",
                len(getattr(self, "settings", {})),
                "session settings applied via SET",
            ),
        ]
        return local_frame(
            self.spark, rows, "metric string, value bigint, description string"
        )

    #: the exact SHOW statements (upper-cased, no trailing ``;``)
    _SHOW = {
        "SHOW TABLES": lambda self: self.system_tables(),
        "SHOW DATABASES": lambda self: local_frame(
            self.spark, [("default",)], "name string"
        ),
        # session engine: no concurrent query daemon → always empty, with
        # the CH column surface so ops scripts parse the result
        "SHOW PROCESSLIST": lambda self: local_frame(
            self.spark,
            [],
            "query_id string, user string, query string, elapsed double",
        ),
    }

    def _sql_impl(self, query: str, dialect: str = "auto") -> DataFrame:
        if dialect == "auto" and getattr(self, "_default_dialect", None):
            dialect = self._default_dialect  # SET dialect = '...'
        head = query.lstrip().split(None, 1)[0].upper() if query.strip() else ""
        pviews = getattr(self, "_param_views", None)
        if pviews and head in ("SELECT", "WITH", "FROM"):
            from clickhouseocp_spark.chsql import expand_param_views

            query = expand_param_views(query, pviews)
        if head in ("ALTER", "OPTIMIZE", "TRUNCATE", "CREATE", "INSERT", "DROP",
                    "RENAME", "EXCHANGE", "DELETE", "SYSTEM", "KILL",
                    "ATTACH", "DETACH", "UNDROP", "BACKUP", "RESTORE",
                    "CHECK"):
            return self.execute(query)
        if head == "SET":
            return self._set_statement(query)
        stmt = query.strip().rstrip(";")
        if head == "SHOW":
            show = stmt.upper()
            if show in self._SHOW:
                return self._SHOW[show](self)
            if show.startswith("SHOW CREATE TABLE"):
                return self.show_create_table(stmt.split()[-1].lower())
        if head == "EXISTS":
            t = stmt.split()[-1].lower()
            return local_frame(
                self.spark, [(1 if t in self.tables else 0,)], "result int"
            )
        if head in ("DESCRIBE", "DESC"):
            t = stmt.split()[-1].lower()
            self._table(t)  # raise on unknown, consistent error surface
            return self.spark.sql(f"DESCRIBE {t}")
        if head == "EXPLAIN":
            rest = query.lstrip()[7:].lstrip().rstrip(";")
            mode = "PIPELINE"
            first = rest.split(None, 1)[0].upper() if rest else ""
            if first in ("AST", "SYNTAX", "PLAN", "PIPELINE", "ESTIMATE"):
                mode = first
                rest = rest.split(None, 1)[1] if len(rest.split(None, 1)) > 1 else ""
            if mode == "ESTIMATE":
                return self.explain_estimate(rest)
            plan = self.explain(rest, dialect=dialect, mode=mode)
            return local_frame(
                self.spark, [(line,) for line in plan.splitlines()], "plan string"
            )
        if any(
            t in query.lower()
            for t in ("system.", "system_", "information_schema")
        ):
            self._ensure_system_views()
            # the log/metrics grow per call → re-register fresh on every read
            self.system_query_log().createOrReplaceTempView("system_query_log")
            self.system_metrics().createOrReplaceTempView("system_metrics")
        if dialect == "prql":
            from clickhouseocp_spark.prql import transpile_prql

            return self.spark.sql(transpile_prql(query))
        if dialect == "kusto":
            from clickhouseocp_spark.kql_stages import run_kql

            return run_kql(self, query)
        if dialect in ("clickhouse", "ch"):
            df = self._run_ch(query)
            if df is None:
                # The transpiler was a no-op: the CH text is already valid
                # Spark SQL (the dialects overlap on the ANSI core).  The
                # explicit-dialect contract is "always execute"; the None
                # return is reserved for the auto-fallback path.
                return self.spark.sql(query)
            return df
        if dialect == "spark":
            return self.spark.sql(query)
        try:
            return self.spark.sql(query)
        except Exception:
            df = self._run_ch(query)
            if df is None:
                raise
            return df

    def _expand_columns_matcher(self, query: str) -> str:
        """CH's dynamic column selector ``COLUMNS('re') [APPLY fn]``: expand
        to an explicit column list BEFORE transpilation (it needs the
        schema, like the Kusto stages in ``kql_stages.py``).
        The table is resolved from the statement's first ``FROM <name>``;
        ``APPLY fn`` wraps each matched column, producing CH's
        ``fn(col)``-style output names.  Chained APPLY and EXCEPT after
        COLUMNS are out of the subset (documented)."""
        import re as _re

        if not _re.search(r"(?i)\bCOLUMNS\s*\(", query):
            return query
        mt = _re.search(r"(?is)\bFROM\s+([A-Za-z_]\w*)", query)
        if not mt:
            return query
        try:
            fields = [f.name for f in self.spark.table(mt.group(1)).schema.fields]
        except Exception:  # noqa: BLE001 — unknown table errors surface later
            return query

        def _expand(m: "_re.Match[str]") -> str:
            rx, fn = m.group(1), m.group(2)
            cols = [c for c in fields if _re.search(rx, c)]
            if not cols:
                raise ChSqlError(
                    f"COLUMNS({rx!r}) matched no columns of {mt.group(1)}"
                )
            if fn:
                return ", ".join(f"{fn}({c}) AS `{fn}({c})`" for c in cols)
            return ", ".join(cols)

        return _re.sub(
            r"(?is)\bCOLUMNS\s*\(\s*'([^']+)'\s*\)"
            r"(?:\s+APPLY\s*\(?\s*([A-Za-z_]\w*)\s*\)?)?",
            _expand,
            query,
        )

    def _run_ch(self, query: str) -> DataFrame | None:
        """Transpile CH-dialect text and run it; an ``ORDER BY ... WITH FILL``
        clause is extracted by the transpiler and applied here as the
        operators/fill.with_fill post-pass (the generated rows need the result
        schema for CH type-default zero fill).  Returns None from the auto
        fallback when the transpiler was a no-op."""
        from clickhouseocp_spark.chsql import transpile_with_fill

        query = self._expand_columns_matcher(query)
        core, fill = transpile_with_fill(query)
        if fill is None and core == query:
            return None
        df = self.spark.sql(core)
        if fill is None:
            return df
        from pyspark.sql import functions as F

        from clickhouseocp_spark.operators.fill import with_fill

        col = fill["col"]
        dtypes = dict(df.dtypes)
        if col not in dtypes:
            raise ValueError(f"WITH FILL column {col!r} not in result columns")
        temporal = dtypes[col].startswith(("date", "timestamp"))
        step = fill["step"] or ("INTERVAL 1 DAY" if temporal else "1")
        # CH fills non-interpolated columns with type defaults
        defaults = {"string": ""}
        zero = {
            c: defaults.get(t, 0)
            for c, t in df.dtypes
            if c != col
            and c not in fill["interpolate"]
            and (t in defaults or t in ("tinyint", "smallint", "int", "bigint")
                 or t.startswith(("float", "double", "decimal")))
        }
        return with_fill(
            df,
            order_col=col,
            step=step,
            fill_from=F.expr(fill["from"]) if fill["from"] else None,
            fill_to=F.expr(fill["to"]) if fill["to"] else None,
            zero_fill=zero,
            interpolate=tuple(fill["interpolate"]),
            staleness=fill.get("staleness") or None,
        )

    def execute(self, statement: str) -> DataFrame:
        """CH mutation/maintenance statements over the catalog views
        (SURVEY §2.1 mutations; the reference accepts these over the same
        SQL transport as SELECTs):

        - ``CREATE TABLE t [ENGINE = MergeTree] [PARTITION BY col]
          [ORDER BY cols] AS SELECT ...`` — CTAS materialized in the
          MergeTree-equivalent parquet layout (partition dirs + sorted row
          groups) and read back, so later queries prune partitions
        - ``INSERT INTO t SELECT ...``
        - ``DROP TABLE [IF EXISTS] t``
        - ``ALTER TABLE t DELETE WHERE cond``
        - ``ALTER TABLE t UPDATE col = expr[, ...] WHERE cond``
        - ``OPTIMIZE TABLE t [FINAL]`` (no-op: every read is already the
          merged view — FINAL semantics by construction)
        - ``TRUNCATE TABLE t``

        The mutated lineage replaces the session view (the parquet fixtures
        are immutable; persist with sources/writers if needed) — CH's
        mutations are likewise deferred rewrites, not in-place edits.
        Expressions go through the CH-dialect rewriter (chsql.transpile_expr).
        """
        import re as _re

        from pyspark.sql import functions as F

        from clickhouseocp_spark.chsql import ChSqlError, transpile_expr
        from clickhouseocp_spark.operators.mutations import delete_where, update_where

        text = statement.strip().rstrip(";")
        m = _re.match(
            r"(?is)^CREATE\s+MATERIALIZED\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?"
            r"(\w+)\s+REFRESH\s+EVERY\s+(\d+)\s+(\w+)\s+AS\s+(SELECT.+)$",
            text,
        )
        if m:
            # refreshable MV (CH 23.12): full-recompute on schedule.  The
            # session engine has no daemon, so the schedule is recorded and
            # refresh runs on SYSTEM REFRESH VIEW <name> (the CH manual
            # trigger) or engine.refresh_views() — each recompute replaces
            # the stored table atomically, exactly CH's
            # refresh-into-new-table-and-exchange semantics.
            name, n, unit, body = (
                m.group(1).lower(), int(m.group(2)), m.group(3), m.group(4)
            )
            if not hasattr(self, "_refreshable_views"):
                self._refreshable_views: dict[str, tuple[str, str]] = {}
            self._refreshable_views[name] = (f"{n} {unit.upper()}", body)
            return self._create_table(name, self.sql(body), (), ())
        m = _re.match(
            r"(?is)^SYSTEM\s+REFRESH\s+VIEW\s+(\w+)$", text
        )
        if m:
            name = m.group(1).lower()
            views = getattr(self, "_refreshable_views", {})
            if name not in views:
                raise ChSqlError(f"SYSTEM REFRESH VIEW: {name!r} is not a "
                                 "refreshable materialized view")
            return self._create_table(name, self.sql(views[name][1]), (), ())
        m = _re.match(
            r"(?is)^CREATE\s+WINDOW\s+VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?"
            r"(\w+)\s+AS\s+(SELECT.+)$",
            text,
        )
        if m:
            # WINDOW VIEW (CH 22.x experimental, in the pinned image):
            # tumble()/hop() group-by windows.  Batch analog — the view
            # recomputes per read over the current data, exactly like a
            # plain VIEW whose body uses the window functions; CH's
            # incremental fire-on-insert/fire-on-watermark machinery is the
            # Structured-Streaming tier (streaming/pipeline.py tumbling/
            # hopping queries, driver-recorded).  tumble/hop lower to
            # Spark's window() struct (chsql._window_tvf_expr).
            return self._replace_view(m.group(1).lower(), self.sql(m.group(2)))
        m = _re.match(
            r"(?is)^CREATE\s+(MATERIALIZED\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?"
            r"(\w+)\s+AS\s+(SELECT.+)$",
            text,
        )
        if m:
            name = m.group(2).lower()
            body = m.group(3)
            from clickhouseocp_spark.chsql import _PARAM_RE

            if not m.group(1) and _PARAM_RE.search(body):
                # parameterized view (CH 23.1): the body keeps {p:Type}
                # placeholders and is instantiated per call via
                # SELECT ... FROM name(p = value)
                if not hasattr(self, "_param_views"):
                    self._param_views: dict[str, str] = {}
                self._param_views[name] = body
                return self.spark.range(0).select(F.lit(name).alias("view")).limit(0)
            df = self.sql(body)
            if m.group(1):
                # MATERIALIZED: compute once into the MergeTree layout and
                # read it back (CH MVs store; plain views recompute per read)
                return self._create_table(name, df, (), ())
            return self._replace_view(name, df)
        m = _re.match(
            r"(?is)^CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s*"
            r"(?:\(([^)]*)\)\s*)?ENGINE\s*=\s*Kafka\b(.*)$",
            text,
        )
        if m:
            return self._create_kafka_table(
                m.group(1).lower(), m.group(2) or "", m.group(3) or ""
            )
        m = _re.match(
            r"(?is)^CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s*\(", text
        )
        if m:
            # bare column-list DDL (no AS SELECT): balanced-paren scan (the
            # column list nests parens: LowCardinality(String), Decimal(p,s))
            start = m.end() - 1
            depth, end = 0, -1
            for i in range(start, len(text)):
                if text[i] == "(":
                    depth += 1
                elif text[i] == ")":
                    depth -= 1
                    if depth == 0:
                        end = i
                        break
            tail = text[end + 1 :].strip() if end >= 0 else ""
            mtail = _re.match(
                r"(?is)^ENGINE\s*=\s*\w+(?:\([^)]*\))?"
                r"(?:\s+PARTITION\s+BY\s+\w+)?(?:\s+ORDER\s+BY\s+[\w,() ]+?)?"
                r"(?:\s+TTL\s+(.+?))?"
                r"\s*;?\s*$",
                tail,
            )
            if end >= 0 and mtail and not _re.match(
                r"(?is)^.*ENGINE\s*=\s*Kafka\b", tail
            ):
                t = m.group(1).lower()
                if mtail.group(1):
                    self._ttl_exprs = getattr(self, "_ttl_exprs", {})
                    self._ttl_exprs[t] = transpile_expr(mtail.group(1).strip())
                else:
                    # re-CREATE without TTL must not inherit a prior
                    # same-named table's TTL expression
                    getattr(self, "_ttl_exprs", {}).pop(t, None)
                fields = []
                for coldef in _split_assignments(text[start + 1 : end]):
                    parts = coldef.strip().split(None, 1)
                    if len(parts) != 2:
                        raise ChSqlError(f"malformed column definition: {coldef!r}")
                    fields.append((parts[0], self._spark_type(parts[1].strip())))
                schema = ", ".join(f"{n} {ty}" for n, ty in fields)
                empty = local_frame(self.spark, [], schema)
                self.tables[t] = empty
                empty.createOrReplaceTempView(t)
                return local_frame(self.spark, [(t,)], "created string").limit(0)
        m = _re.match(
            r"(?is)^CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s*"
            r"(?:ENGINE\s*=\s*\w+(?:\(\s*\))?\s*)?"
            r"(?:PARTITION\s+BY\s+(\w+)\s*)?"
            r"(?:ORDER\s+BY\s+(?:\(([^)]*)\)|([\w, ]+?))\s*)?"
            r"(?:TTL\s+(.+?)\s+)?"
            r"AS\s+(SELECT.+)$",
            text,
        )
        if m:
            t = m.group(1).lower()
            partition = (m.group(2),) if m.group(2) else ()
            order_txt = m.group(3) or m.group(4) or ""
            order = tuple(c.strip() for c in order_txt.split(",") if c.strip())
            if m.group(5):
                # MergeTree row TTL: stored at DDL time, applied when parts
                # merge — here at OPTIMIZE (CH's own semantics are lazy: the
                # expired rows remain readable until a merge runs)
                self._ttl_exprs = getattr(self, "_ttl_exprs", {})
                self._ttl_exprs[t] = transpile_expr(m.group(5).strip())
            else:
                getattr(self, "_ttl_exprs", {}).pop(t, None)
            df = self.sql(m.group(6))
            return self._create_table(t, df, partition, order)
        m = _re.match(
            r"(?is)^INSERT\s+INTO\s+(\w+)\s*(?:\(([\w\s,]+)\)\s*)?"
            r"FORMAT\s+JSONEachRow\s+(.+)$",
            text,
        )
        if m:
            # the reference's Kafka/HTTP ingestion format: one JSON object
            # per line, fields matched by name, absent columns NULL-filled
            t = m.group(1).lower()
            target = self._base_table(t)
            dt = dict(target.dtypes)
            cols = (
                [c.strip() for c in m.group(2).split(",")]
                if m.group(2)
                else target.columns
            )
            lines = [ln.strip() for ln in m.group(3).splitlines() if ln.strip()]
            js = self.spark.createDataFrame([(ln,) for ln in lines], "js string")
            schema = ", ".join(f"{c} {dt[c]}" for c in cols)
            incoming = js.select(F.from_json("js", schema).alias("m")).select("m.*")
            for c in target.columns:
                if c not in cols:
                    incoming = incoming.withColumn(c, F.lit(None).cast(dt[c]))
            return self._set_lineage(
                t, target.unionByName(incoming.select(*target.columns))
            )
        m = _re.match(
            r"(?is)^INSERT\s+INTO\s+(\w+)\s*(?:\(([\w\s,]+)\)\s*)?"
            r"FORMAT\s+(CSV|TSV|TabSeparated)\s+(.+)$",
            text,
        )
        if m:
            # positional delimited ingestion (clickhouse-client's default
            # INSERT formats); columns map by position onto the column list
            t = m.group(1).lower()
            target = self._base_table(t)
            dt = dict(target.dtypes)
            cols = (
                [c.strip() for c in m.group(2).split(",")]
                if m.group(2)
                else target.columns
            )
            sep = "," if m.group(3).upper() == "CSV" else "\t"
            lines = [ln for ln in m.group(4).splitlines() if ln.strip()]
            raw = self.spark.createDataFrame([(ln,) for ln in lines], "ln string")
            schema = ", ".join(f"{c} {dt[c]}" for c in cols)
            incoming = raw.select(
                F.from_csv("ln", schema, {"sep": sep}).alias("m")
            ).select("m.*")
            for c in target.columns:
                if c not in cols:
                    incoming = incoming.withColumn(c, F.lit(None).cast(dt[c]))
            return self._set_lineage(
                t, target.unionByName(incoming.select(*target.columns))
            )
        m = _re.match(
            r"(?is)^INSERT\s+INTO\s+(\w+)\s*(?:\(([\w\s,]+)\)\s*)?(SELECT.+|VALUES.+)$",
            text,
        )
        if m:
            t = m.group(1).lower()
            target = self._base_table(t)
            cols = (
                [c.strip() for c in m.group(2).split(",")] if m.group(2) else None
            )
            body = m.group(3)
            if body.upper().startswith("VALUES"):
                incoming = self.sql(self._values_to_select(body))
            else:
                incoming = self.sql(body)
            if cols is None and set(incoming.columns) == set(target.columns):
                incoming = incoming.select(*target.columns)  # by name
            else:
                names = cols or (
                    target.columns
                    if len(incoming.columns) == len(target.columns)
                    else None
                )
                if names is None:
                    raise ChSqlError(
                        f"INSERT arity mismatch: {len(incoming.columns)} values "
                        f"for {len(target.columns)} columns"
                    )
                incoming = incoming.toDF(*names)  # CH INSERT is positional
            if cols:  # explicit column list: absent columns get NULL defaults
                for c in target.columns:
                    if c not in cols:
                        incoming = incoming.withColumn(
                            c, F.lit(None).cast(dict(target.dtypes)[c])
                        )
            incoming = incoming.select(
                *[
                    F.col(c).cast(dict(target.dtypes)[c]).alias(c)
                    for c in target.columns
                ]
            )
            return self._set_lineage(t, target.unionByName(incoming))
        m = _re.match(r"(?is)^DROP\s+(?:TABLE|VIEW)\s+(?:IF\s+EXISTS\s+)?(\w+)$", text)
        if m:
            t = m.group(1).lower()
            if t in self.tables:
                # CH keeps dropped tables recoverable until
                # database_atomic_delay_before_drop_table_sec — park the
                # lineage so UNDROP TABLE can restore it
                if not hasattr(self, "_dropped"):
                    self._dropped = {}
                self._dropped[t] = self.tables[t]
                self.spark.catalog.dropTempView(t)
                del self.tables[t]
                # TTL is table metadata: it must not survive the drop and
                # silently apply to a later same-named table — park it
                # alongside the lineage so UNDROP restores it too
                ttl = getattr(self, "_ttl_exprs", {}).pop(t, None)
                if ttl is not None:
                    if not hasattr(self, "_dropped_ttl"):
                        self._dropped_ttl = {}
                    self._dropped_ttl[t] = ttl
            return self.spark.range(0).select(F.lit(t).alias("dropped")).limit(0)
        m = _re.match(
            r"(?is)^BACKUP\s+TABLE\s+(\w+)\s+TO\s+"
            r"(?:File\s*\(\s*)?'([^']+)'\s*\)?$",
            text,
        )
        if m:
            # CH 23.x BACKUP TABLE t TO File('path'): a self-contained copy
            # readable by any engine — here a parquet snapshot of the current
            # lineage (policies and mutations included, like CH's data dump)
            t, path = m.group(1).lower(), m.group(2)
            self._table(t).write.mode("errorifexists").parquet(path)
            return local_frame(
                self.spark, [(t, path, "BACKUP_CREATED")],
                "table string, path string, status string",
            )
        m = _re.match(
            r"(?is)^RESTORE\s+TABLE\s+(\w+)\s+FROM\s+"
            r"(?:File\s*\(\s*)?'([^']+)'\s*\)?$",
            text,
        )
        if m:
            t, path = m.group(1).lower(), m.group(2)
            import os

            if not os.path.isdir(path):
                raise ChSqlError(f"RESTORE TABLE: no backup at {path!r}")
            return self._set_lineage(t, self.spark.read.parquet(path))
        m = _re.match(r"(?is)^UNDROP\s+TABLE\s+(\w+)$", text)
        if m:
            t = m.group(1).lower()
            parked = getattr(self, "_dropped", {}).pop(t, None)
            if parked is None:
                raise ChSqlError(f"UNDROP TABLE: no recoverable table {t!r}")
            ttl = getattr(self, "_dropped_ttl", {}).pop(t, None)
            if ttl is not None:
                self._ttl_exprs = getattr(self, "_ttl_exprs", {})
                self._ttl_exprs[t] = ttl
            return self._set_lineage(t, parked)
        m = _re.match(
            r"(?is)^ALTER\s+TABLE\s+(\w+)\s+(DROP|DETACH|ATTACH)\s+PARTITION\s+"
            r"('[^']*'|\S+)$",
            text,
        )
        if m:
            return self._alter_partition(
                m.group(1).lower(), m.group(2).upper(), m.group(3).strip("'")
            )
        m = _re.match(
            r"(?is)^ALTER\s+TABLE\s+(\w+)\s+FREEZE(?:\s+WITH\s+NAME\s+'(\w+)')?$",
            text,
        )
        if m:
            return self._freeze_table(m.group(1).lower(), m.group(2) or "default")
        m = _re.match(
            r"(?is)^ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMN\s+(?:IF\s+NOT\s+EXISTS\s+)?"
            r"(\w+)\s+([\w()0-9, ]+?)(?:\s+DEFAULT\s+(.+))?$",
            text,
        )
        if m:
            t, col, ch_type = m.group(1).lower(), m.group(2), m.group(3).strip()
            from clickhouseocp_spark.chsql import _map_type

            spark_type = _map_type(ch_type)
            default = (
                F.expr(transpile_expr(m.group(4))) if m.group(4) else F.lit(None)
            )
            out = self._base_table(t).withColumn(col, default.cast(spark_type))
            return self._set_lineage(t, out)
        m = _re.match(
            r"(?is)^ALTER\s+TABLE\s+(\w+)\s+ADD\s+INDEX\s+(?:IF\s+NOT\s+EXISTS\s+)?"
            r"(\w+)\s*\(?\s*(\w+)\s*\)?\s+TYPE\s+(full_text|gin|inverted|tokenbf_v1)"
            r".*$",
            text,
        )
        if m:
            # CH experimental full-text index (25.x `full_text`, ex-`inverted`;
            # tokenbf_v1 is the bloom variant): the Spark-native index is a
            # postings TABLE — build it now, register it as <table>__idx_<name>
            # so text queries can consult it (SELECT doc ids FROM the postings
            # WHERE token = ...), bucket-keyed for partition pruning when
            # persisted (operators/fulltext.py).
            from clickhouseocp_spark.operators.fulltext import build_fulltext_index

            t, iname, col = m.group(1).lower(), m.group(2).lower(), m.group(3)
            base = self._base_table(t)
            if col not in base.columns:
                raise ChSqlError(f"ADD INDEX: no column {col!r} in {t!r}")
            id_col = base.columns[0]  # CH indexes rows; the first column keys
            postings = build_fulltext_index(base, text_col=col, id_col=id_col)
            if not hasattr(self, "_indexes"):
                self._indexes: dict[str, tuple[str, str, str]] = {}
            self._indexes[f"{t}.{iname}"] = (t, col, m.group(4).lower())
            return self._replace_view(f"{t}__idx_{iname}", postings)
        m = _re.match(
            r"(?is)^ALTER\s+TABLE\s+(\w+)\s+(?:DROP|CLEAR)\s+INDEX\s+"
            r"(?:IF\s+EXISTS\s+)?(\w+)$",
            text,
        )
        if m:
            t, iname = m.group(1).lower(), m.group(2).lower()
            getattr(self, "_indexes", {}).pop(f"{t}.{iname}", None)
            self.tables.pop(f"{t}__idx_{iname}", None)
            return self.spark.range(0).select(F.lit("ok").alias("ok")).limit(0)
        m = _re.match(
            r"(?is)^ALTER\s+TABLE\s+(\w+)\s+MATERIALIZE\s+INDEX\s+(\w+)$", text
        )
        if m:
            # session postings views are always current — accepted no-op
            return self.spark.range(0).select(F.lit("ok").alias("ok")).limit(0)
        m = _re.match(r"(?is)^ALTER\s+TABLE\s+(\w+)\s+DROP\s+COLUMN\s+(?:IF\s+EXISTS\s+)?(\w+)$", text)
        if m:
            t, col = m.group(1).lower(), m.group(2)
            return self._set_lineage(t, self._base_table(t).drop(col))
        m = _re.match(
            r"(?is)^ALTER\s+TABLE\s+(\w+)\s+RENAME\s+COLUMN\s+"
            r"(?:IF\s+EXISTS\s+)?(\w+)\s+TO\s+(\w+)$",
            text,
        )
        if m:
            t, old, new = m.group(1).lower(), m.group(2), m.group(3)
            return self._set_lineage(
                t, self._base_table(t).withColumnRenamed(old, new)
            )
        m = _re.match(
            r"(?is)^ALTER\s+TABLE\s+(\w+)\s+CLEAR\s+COLUMN\s+"
            r"(?:IF\s+EXISTS\s+)?(\w+)(?:\s+IN\s+PARTITION\s+\S+)?$",
            text,
        )
        if m:
            # CH resets the column to its type default; a partition clause
            # narrows to one partition — the session view has no per-part
            # files, so the reset applies table-wide (documented deviation)
            t, col = m.group(1).lower(), m.group(2)
            base = self._base_table(t)
            dt = dict(base.dtypes).get(col)
            if dt is None:
                raise ChSqlError(f"CLEAR COLUMN: no column {col!r} on {t!r}")
            # CH type defaults: epoch date/timestamp, empty string/array/
            # map/binary, zero numerics; structs (CH tuples) default
            # field-wise — approximated as NULL (documented deviation)
            if dt == "string":
                zero = F.lit("")
            elif dt == "binary":
                zero = F.lit(b"")
            elif dt.startswith(("timestamp", "date")):
                zero = F.lit("1970-01-01 00:00:00")
            elif dt.startswith("array"):
                zero = F.expr(f"CAST(array() AS {dt})")
            elif dt.startswith("map"):
                zero = F.expr(f"CAST(map() AS {dt})")
            elif dt.startswith("struct"):
                zero = F.lit(None)
            else:
                zero = F.lit(0)
            return self._set_lineage(t, base.withColumn(col, zero.cast(dt)))
        m = _re.match(
            r"(?is)^ALTER\s+TABLE\s+(\w+)\s+COMMENT\s+COLUMN\s+"
            r"(?:IF\s+EXISTS\s+)?(\w+)\s+'[^']*'$",
            text,
        )
        if m:
            # metadata-only in CH; the session catalog keeps no comments —
            # accepted no-op so migration scripts run unmodified
            self._table(m.group(1).lower())  # raise on unknown table
            return self.spark.range(0).select(F.lit("ok").alias("ok")).limit(0)
        m = _re.match(
            r"(?is)^ALTER\s+TABLE\s+(\w+)\s+MATERIALIZE\s+COLUMN\s+"
            r"(\w+)(?:\s+IN\s+PARTITION\s+\S+)?$",
            text,
        )
        if m:
            # CH forces computing a DEFAULT/MATERIALIZED column into old
            # parts; this engine's ALTERs are lineage rewrites, so every
            # column is computed at read already — accepted no-op with the
            # column-existence check (the part of the contract that can
            # fail)
            t, col = m.group(1).lower(), m.group(2)
            if col not in self._base_table(t).columns:
                raise ChSqlError(f"MATERIALIZE COLUMN: no column {col!r} on {t!r}")
            return self.spark.range(0).select(F.lit("ok").alias("ok")).limit(0)
        m = _re.match(r"(?is)^CHECK\s+TABLE\s+(\w+)$", text)
        if m:
            # CH verifies part checksums and returns one row (result=1) —
            # the session-view analog verifies the lineage evaluates end to
            # end (a count() forces a full scan of every referenced file)
            t = m.group(1).lower()
            n = self._table(t).count()
            return self.spark.sql(
                f"SELECT CAST(1 AS TINYINT) AS result, "
                f"CAST({n} AS BIGINT) AS rows_read"
            )
        m = _re.match(
            r"(?is)^ALTER\s+TABLE\s+(\w+)\s+MODIFY\s+COLUMN\s+(\w+)\s+([\w()0-9, ]+)$",
            text,
        )
        if m:
            t, col, ch_type = m.group(1).lower(), m.group(2), m.group(3).strip()
            from clickhouseocp_spark.chsql import _map_type

            out = self._base_table(t).withColumn(col, F.col(col).cast(_map_type(ch_type)))
            return self._set_lineage(t, out)
        m = _re.match(r"(?is)^DELETE\s+FROM\s+(\w+)\s+WHERE\s+(.+)$", text)
        if m:
            # lightweight-delete syntax (CH 22.8+): same deferred rewrite as
            # ALTER TABLE ... DELETE
            t, cond = m.group(1).lower(), transpile_expr(m.group(2))
            return self._set_lineage(
                t, delete_where(self._base_table(t), F.expr(cond))
            )
        m = _re.match(r"(?is)^(?:SYSTEM|KILL)\s+\w+.*$", text)
        if m:
            # ops statements (SYSTEM FLUSH LOGS / RELOAD DICTIONARIES / KILL
            # QUERY ...): session views have no daemon state — accepted no-ops
            # so CH ops scripts run unmodified
            return self.spark.range(0).select(F.lit(text.split()[0]).alias("ok")).limit(0)
        m = _re.match(r"(?is)^ALTER\s+TABLE\s+(\w+)\s+DELETE\s+WHERE\s+(.+)$", text)
        if m:
            t, cond = m.group(1).lower(), transpile_expr(m.group(2))
            out = delete_where(self._base_table(t), F.expr(cond))
            return self._set_lineage(t, out)
        m = _re.match(
            r"(?is)^ALTER\s+TABLE\s+(\w+)\s+UPDATE\s+(.+?)\s+WHERE\s+(.+)$", text
        )
        if m:
            t, cond = m.group(1).lower(), transpile_expr(m.group(3))
            assignments = {}
            for part in _split_assignments(m.group(2)):
                col, _, expr = part.partition("=")
                if not _:
                    raise ChSqlError(f"malformed UPDATE assignment: {part!r}")
                assignments[col.strip()] = F.expr(transpile_expr(expr))
            out = update_where(self._base_table(t), F.expr(cond), assignments)
            return self._set_lineage(t, out)
        m = _re.match(
            r"(?is)^OPTIMIZE\s+TABLE\s+(\w+)(\s+FINAL)?(\s+DEDUPLICATE)?$", text
        )
        if m:
            t = m.group(1).lower()
            ttl = getattr(self, "_ttl_exprs", {}).get(t)
            if m.group(3):
                # OPTIMIZE ... DEDUPLICATE: drop fully-identical rows (CH
                # semantics: all columns equal), keeping one.  Merges always
                # apply row TTL, deduplicating merges included.
                out = self._base_table(t)
                if ttl:
                    out = out.where(F.expr(ttl) > F.current_timestamp())
                return self._set_lineage(t, out.distinct())
            if ttl:
                # merges apply row TTL: keep rows whose TTL timestamp is
                # still in the future (expired rows were readable until now
                # — CH's lazy TTL contract)
                return self._set_lineage(
                    t,
                    self._base_table(t).where(
                        F.expr(ttl) > F.current_timestamp()
                    ),
                )
            return self._table(t)
        m = _re.match(
            r"(?is)^CREATE\s+ROW\s+POLICY\s+(\w+)\s+ON\s+(\w+)\s+USING\s+(.+?)"
            r"(?:\s+TO\s+\w+)?$",
            text,
        )
        if m:
            pol, t, cond = m.group(1).lower(), m.group(2).lower(), m.group(3)
            base = self._base_table(t)
            if not hasattr(self, "_row_policies"):
                # predicate strings, not DataFrame snapshots: mutations made
                # while a policy is active persist through its drop, and
                # stacked policies compose/drop in any order
                self._row_policies: dict[str, tuple[str, str]] = {}
                self._policy_base: dict[str, DataFrame] = {}
            self._row_policies[pol] = (t, transpile_expr(cond))
            return self._set_lineage(t, base)
        m = _re.match(r"(?is)^DROP\s+ROW\s+POLICY\s+(\w+)(?:\s+ON\s+\w+)?$", text)
        if m:
            pol = m.group(1).lower()
            policies = getattr(self, "_row_policies", {})
            if pol not in policies:
                raise ChSqlError(f"unknown row policy {pol!r}")
            t, _cond = policies.pop(pol)
            return self._set_lineage(t, self._base_table(t))
        m = _re.match(r"(?is)^RENAME\s+TABLE\s+(\w+)\s+TO\s+(\w+)$", text)
        if m:
            old, new = m.group(1).lower(), m.group(2).lower()
            df = self._table(old)
            if new in self.tables:
                raise ChSqlError(f"RENAME target already exists: {new}")
            self.spark.catalog.dropTempView(old)
            del self.tables[old]
            return self._replace_view(new, df)
        m = _re.match(r"(?is)^EXCHANGE\s+TABLES\s+(\w+)\s+AND\s+(\w+)$", text)
        if m:
            a, b = m.group(1).lower(), m.group(2).lower()
            da, db = self._table(a), self._table(b)
            self._replace_view(a, db)
            return self._replace_view(b, da)
        m = _re.match(r"(?is)^TRUNCATE\s+TABLE\s+(\w+)$", text)
        if m:
            t = m.group(1).lower()
            return self._set_lineage(t, self._base_table(t).limit(0))
        m = _re.match(r"(?is)^DETACH\s+TABLE\s+(\w+)$", text)
        if m:
            # CH DETACH: table leaves the catalog but its data survives for a
            # later ATTACH (session analog: park the lineage aside)
            t = m.group(1).lower()
            df = self._table(t)
            if not hasattr(self, "_detached"):
                self._detached: dict[str, DataFrame] = {}
            self._detached[t] = df
            self.spark.catalog.dropTempView(t)
            del self.tables[t]
            return self.spark.range(0).select(F.lit(t).alias("detached")).limit(0)
        m = _re.match(r"(?is)^ATTACH\s+TABLE\s+(\w+)$", text)
        if m:
            t = m.group(1).lower()
            parked = getattr(self, "_detached", {})
            if t not in parked:
                raise ChSqlError(f"ATTACH TABLE: no detached table {t!r}")
            return self._replace_view(t, parked.pop(t))
        raise ChSqlError(f"unsupported statement: {text[:80]!r}")

    @staticmethod
    def _values_to_select(body: str) -> str:
        """``VALUES (a, b), (c, d)`` → ``SELECT a, b UNION ALL SELECT c, d``
        with every value expression run through the CH-dialect rewriter (CH
        accepts function calls, not just literals, in VALUES)."""
        from clickhouseocp_spark.chsql import (
            ChSqlError,
            _find_close,
            _split_top,
            render,
            tokenize,
            transpile_expr,
        )

        tokens = tokenize(body)
        if not tokens or tokens[0].upper() != "VALUES":
            raise ChSqlError("expected VALUES")
        selects = []
        i = 1
        while i < len(tokens):
            if tokens[i] != "(":
                raise ChSqlError(f"VALUES: expected '(' at {render(tokens[i:i+3])!r}")
            close = _find_close(tokens, i)
            row = _split_top(tokens[i + 1 : close], ",")
            exprs = [transpile_expr(render(cell)) for cell in row]
            selects.append("SELECT " + ", ".join(exprs))
            i = close + 1
            if i < len(tokens):
                if tokens[i] != ",":
                    raise ChSqlError("VALUES: rows must be comma-separated")
                i += 1
        if not selects:
            raise ChSqlError("VALUES: no rows")
        return " UNION ALL ".join(selects)

    def _create_table(
        self, name: str, df: DataFrame, partition: tuple, order: tuple
    ) -> DataFrame:
        """CTAS materialization: write MergeTree-equivalent parquet layout
        (directory partitions + sorted row groups — sources/writers) under a
        session-scoped directory, read it back, register the view.  Reading
        the materialized layout means later queries get partition pruning
        and sorted row groups exactly as a MergeTree table would."""
        import os
        import tempfile

        from clickhouseocp_spark.sources.writers import write_mergetree_style

        base = getattr(self, "_table_dir", None)
        if base is None:
            base = self._table_dir = tempfile.mkdtemp(prefix="chspark_tables_")
        path = os.path.join(base, name)
        write_mergetree_style(df, path, partition_by=partition, order_by=order)
        if not hasattr(self, "_table_partitions"):
            self._table_partitions: dict[str, tuple] = {}
        self._table_partitions[name] = tuple(partition)
        return self._replace_view(name, self.spark.read.parquet(path))

    def _layout_path(self, name: str) -> str:
        """Materialized layout directory for *name*; raises when the table
        has no MergeTree layout (partition ops need real part directories)."""
        import os

        from clickhouseocp_spark.chsql import ChSqlError

        base = getattr(self, "_table_dir", None)
        path = os.path.join(base, name) if base else None
        if not path or not os.path.isdir(path):
            raise ChSqlError(
                f"table {name!r} has no MergeTree layout — partition "
                "operations need a CTAS-materialized PARTITION BY table"
            )
        return path

    def _reread_layout(self, name: str) -> DataFrame:
        """Re-register *name* from its (possibly mutated) layout directory,
        busting Spark's file-listing cache first."""
        import os

        path = self._layout_path(name)
        self.spark.catalog.refreshByPath(path)
        has_files = any(
            f.endswith(".parquet")
            for _r, _d, fs in os.walk(path)
            for f in fs
        )
        if not has_files:
            return self._replace_view(name, self._table(name).limit(0))
        return self._replace_view(name, self.spark.read.parquet(path))

    def _alter_partition(self, name: str, action: str, value: str) -> DataFrame:
        """``ALTER TABLE t DROP|DETACH|ATTACH PARTITION v`` over the layout's
        partition directories — the MergeTree partition-lifecycle surface
        (detached parts live next to the layout, exactly CH's detached/)."""
        import os
        import shutil

        from clickhouseocp_spark.chsql import ChSqlError

        path = self._layout_path(name)
        parts = getattr(self, "_table_partitions", {}).get(name) or ()
        if not parts:
            raise ChSqlError(
                f"table {name!r} was not created with PARTITION BY — "
                "no partitions to alter"
            )
        pdir = os.path.join(path, f"{parts[0]}={value}")
        ddir = os.path.join(
            os.path.dirname(path), f"detached_{name}", f"{parts[0]}={value}"
        )
        if action == "DROP":
            if not os.path.isdir(pdir):
                raise ChSqlError(f"no partition {value!r} in table {name!r}")
            shutil.rmtree(pdir)
        elif action == "DETACH":
            if not os.path.isdir(pdir):
                raise ChSqlError(f"no partition {value!r} in table {name!r}")
            os.makedirs(os.path.dirname(ddir), exist_ok=True)
            shutil.move(pdir, ddir)
        elif action == "ATTACH":
            if not os.path.isdir(ddir):
                raise ChSqlError(
                    f"no detached partition {value!r} for table {name!r}"
                )
            shutil.move(ddir, pdir)
        return self._reread_layout(name)

    def _freeze_table(self, name: str, backup: str) -> DataFrame:
        """``ALTER TABLE t FREEZE [WITH NAME 'x']``: hard-link-free snapshot
        of the layout into shadow/<backup>/<table> (CH freezes parts into
        shadow/); returns the backup path."""
        import os
        import shutil

        from pyspark.sql import functions as F

        path = self._layout_path(name)
        shadow = os.path.join(os.path.dirname(path), "shadow", backup, name)
        if os.path.isdir(shadow):
            shutil.rmtree(shadow)
        shutil.copytree(path, shadow)
        return self.spark.range(1).select(
            F.lit(shadow).alias("backup_path"), F.lit(name).alias("table")
        )

    def _create_kafka_table(self, name: str, cols: str, tail: str) -> DataFrame:
        """``CREATE TABLE q (...) ENGINE = Kafka SETTINGS kafka_broker_list =
        '...', kafka_topic_list = '...'`` — the reference's streaming-ingest
        engine (SURVEY §2.1; typically paired with a materialized view).

        With the spark-sql-kafka connector present this builds the streaming
        DataFrame (CH virtual columns + the declared schema parsed from the
        JSONEachRow payload) and registers it under ``self.streams[name]``.
        Without the jars it raises the ACTIONABLE enable recipe — the exact
        package coordinate and session config — instead of an opaque
        DATA_SOURCE_NOT_FOUND at first read."""
        import re as _re

        from clickhouseocp_spark.streaming.pipeline import (
            kafka_available,
            kafka_events_stream,
        )

        settings = dict(
            _re.findall(r"(?i)(\w+)\s*=\s*'([^']*)'", tail)
        )
        brokers = settings.get("kafka_broker_list", "localhost:9092")
        topic = settings.get("kafka_topic_list", name)
        if not kafka_available(self.spark):
            import pyspark

            pkg = f"org.apache.spark:spark-sql-kafka-0-10_2.13:{pyspark.__version__}"
            raise RuntimeError(
                f"ENGINE = Kafka needs the Kafka connector on the classpath. "
                f"Enable it with: spark-submit --packages {pkg}  (or "
                f'SparkSession.builder.config("spark.jars.packages", "{pkg}")), '
                f"then re-run this DDL; see README 'Optional format jars'."
            )
        stream = kafka_events_stream(self.spark, brokers, topic)
        if cols.strip():
            from clickhouseocp_spark.chsql import _map_type
            from pyspark.sql import functions as F

            fields = []
            for part in cols.split(","):
                bits = part.strip().split()
                if len(bits) >= 2:
                    fields.append(f"{bits[0]} {_map_type(bits[1])}")
            stream = stream.select(
                "*", F.from_json("value", ", ".join(fields)).alias("__row")
            ).select("_topic", "_partition", "_offset", "_timestamp", "__row.*")
        if not hasattr(self, "streams"):
            self.streams: dict[str, DataFrame] = {}
        self.streams[name] = stream
        return stream

    def _table(self, name: str) -> DataFrame:
        if name not in self.tables:
            raise KeyError(f"unknown table {name!r}; have {sorted(self.tables)}")
        return self.tables[name]

    def _replace_view(self, name: str, df: DataFrame) -> DataFrame:
        df.createOrReplaceTempView(name)
        self.tables[name] = df
        return df

    def _base_table(self, name: str) -> DataFrame:
        """Unfiltered lineage of *name* — the view beneath any active row
        policies.  Mutations (INSERT/ALTER/DELETE/TRUNCATE) apply here: a
        row policy is a read-time filter, not a fork of the data."""
        base = getattr(self, "_policy_base", {}).get(name)
        return base if base is not None else self._table(name)

    def _set_lineage(self, name: str, df: DataFrame) -> DataFrame:
        """Replace *name*'s lineage and re-derive the visible view through
        whatever row policies are currently active (stored as predicate
        strings, so mutations survive policy create/drop in any order)."""
        from pyspark.sql import functions as F

        preds = [
            cond
            for (t, cond) in getattr(self, "_row_policies", {}).values()
            if t == name
        ]
        if not preds:
            if hasattr(self, "_policy_base"):
                self._policy_base.pop(name, None)
            return self._replace_view(name, df)
        self._policy_base[name] = df
        view = df
        for p in preds:
            view = view.filter(F.expr(p))
        return self._replace_view(name, view)

    def query(self, name: str) -> DataFrame:
        """Run a named operator from the registry (SURVEY §2 inventory)."""
        from clickhouseocp_spark.queries import all_queries

        return all_queries()[name].fn(self.spark, self.sf_dir)

    def _ensure_system_views(self) -> None:
        """Register the system.* introspection surface as temp views so SQL
        text can read it (chsql rewrites ``system.X`` → ``system_X``)."""
        if getattr(self, "_system_views_done", False):
            return
        self.system_tables().createOrReplaceTempView("system_tables")
        self.system_columns().createOrReplaceTempView("system_columns")
        self.system_functions().createOrReplaceTempView("system_functions")
        self.system_build_options().createOrReplaceTempView("system_build_options")
        self.system_parts().createOrReplaceTempView("system_parts")
        # system.one: the 1-row constant table CH uses for FROM-less probes
        local_frame(
            self.spark, [(0,)], "dummy tinyint"
        ).createOrReplaceTempView("system_one")
        self.system_settings().createOrReplaceTempView("system_settings")
        # information_schema compat layer (CH ships it for BI tools):
        # SQL-standard column names projected from the system views
        self.spark.sql(
            "SELECT 'default' AS table_catalog, 'default' AS table_schema, "
            "name AS table_name, "
            "CASE WHEN lower(type) LIKE '%view%' THEN 'VIEW' "
            "ELSE 'BASE TABLE' END AS table_type FROM system_tables"
        ).createOrReplaceTempView("information_schema_tables")
        self.spark.sql(
            "SELECT 'default' AS table_catalog, 'default' AS table_schema, "
            "table AS table_name, name AS column_name, "
            "position AS ordinal_position, type AS data_type "
            "FROM system_columns"
        ).createOrReplaceTempView("information_schema_columns")
        local_frame(
            self.spark,
            [("default", "default")],
            "catalog_name string, schema_name string",
        ).createOrReplaceTempView("information_schema_schemata")
        self._system_views_done = True

    def system_settings(self) -> DataFrame:
        """`system.settings` analog: the session settings applied via SET
        (changed = 1, CH's changed-flag semantics) plus the engine's pinned
        Spark-conf analogs (changed = 0).  Re-registered after every SET so
        text queries always see the current state."""
        def conf(key: str) -> str:
            try:  # typed confs reject a ''-default (Spark 4 validates it)
                return str(self.spark.conf.get(key))
            except Exception:  # noqa: BLE001 — unset conf → blank
                return ""

        pinned = [
            ("max_threads", conf("spark.sql.shuffle.partitions")),
            ("session_timezone", conf("spark.sql.session.timeZone")),
            ("ansi_mode", conf("spark.sql.ansi.enabled")),
            ("adaptive_execution", conf("spark.sql.adaptive.enabled")),
        ]
        changed = getattr(self, "settings", {})
        rows = [(k, str(v), 1) for k, v in sorted(changed.items())] + [
            (k, str(v), 0) for k, v in pinned if k not in changed
        ]
        return local_frame(
            self.spark, rows, "name string, value string, changed int"
        )

    def system_build_options(self) -> DataFrame:
        """`SELECT * FROM system.build_options` analog — the reference's own
        smoke check (Dockefile-ubuntu:52).  Engine version + the perf-relevant
        session configuration as a queryable DataFrame."""
        def _conf(k: str) -> str:
            # conf.get(k, default) type-checks the default against the conf's
            # declared type (boolean confs reject "unset") → probe via try
            try:
                return str(self.spark.conf.get(k))
            except Exception:
                return "unset"

        confs = [
            ("engine", "spark"),
            ("version", self.spark.version),
            ("master", self.spark.sparkContext.master),
        ] + [
            (k, _conf(k))
            for k in (
                "spark.sql.session.timeZone",
                "spark.sql.adaptive.enabled",
                "spark.sql.ansi.enabled",
                "spark.sql.shuffle.partitions",
                "spark.sql.parquet.filterPushdown",
            )
        ]
        return local_frame(self.spark, confs, "name string, value string")

    def _spark_type(self, ch: str) -> str:
        """CH column type name → Spark SQL type (inverse of _CH_TYPE_NAMES,
        for bare CREATE TABLE DDL)."""
        import re as _re

        from clickhouseocp_spark.chsql import ChSqlError

        t = ch.strip()
        m = _re.match(r"(?is)^(?:Nullable|LowCardinality)\((.+)\)$", t)
        if m:
            return self._spark_type(m.group(1))
        m = _re.match(r"(?is)^Array\((.+)\)$", t)
        if m:
            return f"array<{self._spark_type(m.group(1))}>"
        m = _re.match(r"(?is)^Decimal\((\d+)\s*,\s*(\d+)\)$", t)
        if m:
            return f"decimal({m.group(1)},{m.group(2)})"
        base = t.split("(")[0].strip().lower()
        mapping = {
            "int8": "tinyint", "int16": "smallint", "int32": "int",
            "int64": "bigint", "uint8": "smallint", "uint16": "int",
            "uint32": "bigint", "uint64": "bigint",
            "float32": "float", "float64": "double",
            "string": "string", "fixedstring": "string", "uuid": "string",
            "date": "date", "date32": "date",
            "datetime": "timestamp", "datetime64": "timestamp",
            "bool": "boolean", "boolean": "boolean",
        }
        if base not in mapping:
            raise ChSqlError(f"unsupported column type in DDL: {ch!r}")
        return mapping[base]

    #: Spark simple type names → the CH names SHOW CREATE TABLE renders
    _CH_TYPE_NAMES = {
        "tinyint": "Int8", "smallint": "Int16", "int": "Int32",
        "bigint": "Int64", "float": "Float32", "double": "Float64",
        "string": "String", "date": "Date", "timestamp": "DateTime64(6)",
        "timestamp_ntz": "DateTime64(6)", "boolean": "Bool", "binary": "String",
    }

    def show_create_table(self, name: str) -> DataFrame:
        """``SHOW CREATE TABLE t``: synthesize CH-style DDL from the live
        schema + the table's physical layout (partition dirs of a CTAS
        MergeTree materialization when present)."""
        import os

        df = self._table(name)

        def ch_type(t: str) -> str:
            if t.startswith("decimal"):
                return "Decimal" + t[len("decimal"):]
            if t.startswith("array<") and t.endswith(">"):
                return f"Array({ch_type(t[6:-1])})"
            return self._CH_TYPE_NAMES.get(t, t)

        cols = ",\n    ".join(f"`{c}` {ch_type(t)}" for c, t in df.dtypes)
        partition = ""
        base = getattr(self, "_table_dir", None)
        if base is not None:
            root = os.path.join(base, name)
            if os.path.isdir(root):
                keys = {
                    d.split("=")[0]
                    for d in os.listdir(root)
                    if "=" in d and os.path.isdir(os.path.join(root, d))
                }
                if keys:
                    partition = f"\nPARTITION BY ({', '.join(sorted(keys))})"
        ddl = (
            f"CREATE TABLE {name}\n(\n    {cols}\n)\n"
            f"ENGINE = MergeTree{partition}\nORDER BY tuple()"
        )
        return local_frame(self.spark, [(ddl,)], "statement string")

    def system_parts(self) -> DataFrame:
        """``system.parts`` analog over CTAS-materialized MergeTree-layout
        tables: one row per parquet data file with its partition value, row
        count and bytes — read from parquet FOOTERS (pyarrow metadata), so no
        data is scanned; cost is bounded by file count, exactly like CH's
        parts metadata.  Fixture tables (plain parquet, no layout dirs)
        report partition='' like CH's unpartitioned 'all' parts."""
        import os

        import pyarrow.parquet as pq

        rows = []

        def walk(table: str, root: str) -> None:
            for dirpath, _dirs, files in os.walk(root):
                rel = os.path.relpath(dirpath, root)
                partition = "" if rel == "." else rel
                for f in files:
                    if not f.endswith(".parquet"):
                        continue
                    full = os.path.join(dirpath, f)
                    meta = pq.ParquetFile(full).metadata
                    rows.append(
                        (
                            table,
                            partition,
                            f,
                            meta.num_rows,
                            os.path.getsize(full),
                            meta.num_row_groups,
                            1,  # active: the layout holds only live parts
                        )
                    )

        base = getattr(self, "_table_dir", None)
        materialized: set[str] = set()
        if base is not None and os.path.isdir(base):
            for table in sorted(os.listdir(base)):
                materialized.add(table)
                walk(table, os.path.join(base, table))
        for table in sorted(self.tables):
            if table in materialized:
                # a CTAS layout supersedes the same-named fixture: reporting
                # both would double-count the table's rows/bytes
                continue
            fixture = os.path.join(self.sf_dir, f"{table}.parquet")
            if os.path.isfile(fixture):
                meta = pq.ParquetFile(fixture).metadata
                rows.append(
                    (table, "", f"{table}.parquet", meta.num_rows,
                     os.path.getsize(fixture), meta.num_row_groups, 1)
                )
        return local_frame(
            self.spark, rows,
            "table string, partition string, name string, rows bigint, "
            "bytes_on_disk bigint, row_groups int, active int",
        )

    def system_tables(self) -> DataFrame:
        """`system.tables` analog via the session catalog."""
        rows = [
            (t.name, t.tableType, ",".join(t.namespace or []))
            for t in self.spark.catalog.listTables()
        ]
        return local_frame(
            self.spark, rows, "name string, type string, namespace string"
        )

    def system_columns(self) -> DataFrame:
        """`system.columns` analog: every registered fixture table's columns
        with ordinal position and Spark type (CH exposes the same through
        system.columns; the `system_columns` registry query oracle-checks
        this against DuckDB's information_schema over identical views)."""
        rows = [
            (name, f.name, f.dataType.simpleString(), i + 1)
            for name, df in sorted(self.tables.items())
            for i, f in enumerate(df.schema.fields)
        ]
        # CH system.columns column names: table, name, type, position
        return local_frame(
            self.spark, rows, "table string, name string, type string, position int"
        )

    def system_functions(self) -> DataFrame:
        """`system.functions` analog: the ClickHouse-name vocabulary this
        engine accepts (functions/clickhouse_names.py) plus whether each name
        also exists as a native Spark builtin."""
        names = sorted(n for n in dir(_ch) if not n.startswith("_"))
        native = {
            r[0] for r in self.spark.sql("SHOW FUNCTIONS").collect()
        }
        rows = [(n, n.lower() in native) for n in names]
        return local_frame(self.spark, rows, "name string, spark_builtin boolean")

    def explain(self, name_or_sql: str, dialect: str = "auto", mode: str = "PIPELINE") -> str:
        """EXPLAIN statement family (CH ships EXPLAIN AST / SYNTAX / PLAN /
        PIPELINE / ESTIMATE):

        - ``SYNTAX`` — what the CH text transpiles to (CH prints the
          rewritten query after its syntax optimizations; here that is the
          Spark SQL the dialect front end emits);
        - ``AST`` — the token tree, one node per line indented by paren depth;
        - ``PLAN`` — the optimized logical plan (Catalyst's analog of CH's
          query plan steps);
        - ``PIPELINE`` — the formatted physical plan (Catalyst's analog of
          the execution-processor pipeline)."""
        from clickhouseocp_spark.plans.inspect import formatted_plan
        from clickhouseocp_spark.queries import all_queries

        if mode == "SYNTAX":
            from clickhouseocp_spark.chsql import transpile

            return transpile(name_or_sql)
        if mode == "AST":
            from clickhouseocp_spark.chsql import tokenize

            out, depth = [], 0
            for tok in tokenize(name_or_sql):
                if tok == ")":
                    depth = max(0, depth - 1)
                out.append("  " * depth + tok)
                if tok == "(":
                    depth += 1
            return "\n".join(out)
        if name_or_sql.lstrip().upper().startswith(("SELECT", "WITH")):
            df = self.sql(name_or_sql, dialect=dialect)
        else:
            df = all_queries()[name_or_sql].fn(self.spark, self.sf_dir)
        if mode == "PLAN":
            return df._jdf.queryExecution().optimizedPlan().toString()
        return formatted_plan(df)

    def explain_estimate(self, sql_text: str) -> DataFrame:
        """``EXPLAIN ESTIMATE``: per-table parts/rows the query would read —
        CH reads MergeTree part headers; the analog is parquet footer
        metadata via :meth:`system_parts`, filtered to tables referenced in
        the statement text."""
        import re as _re

        from pyspark.sql import functions as F

        words = {w.lower() for w in _re.findall(r"[A-Za-z_][A-Za-z0-9_]*", sql_text)}
        parts = self.system_parts()
        referenced = [t for t in self.tables if t in words]
        est = (
            parts.where(parts.table.isin(referenced))
            .groupBy("table")
            .agg(
                F.count(F.lit(1)).alias("parts"),
                F.sum("rows").alias("rows"),
                F.sum("row_groups").alias("marks"),
            )
        )
        return est

    def run(
        self,
        query: str,
        dialect: str = "clickhouse",
        max_rows: int = 10_000,
        stats: dict | None = None,
        default_format: str | None = None,
    ) -> str | bytes:
        """``clickhouse-local -q`` parity: execute CH SQL text and return the
        result rendered in its trailing ``FORMAT <name>`` clause, else in
        ``default_format`` (default TabSeparated) — the stdout surface of the
        reference image (Dockefile-ubuntu:52).  Text formats return ``str``,
        binary ones (``formats.BINARY``) ``bytes``.  Driver-side and
        row-capped by design: bulk exports go through sources/writers.py
        sinks, not a terminal format.  ``stats`` (optional out-param)
        receives ``result_rows`` / ``written_rows`` for the HTTP summary
        headers."""
        import re as _re

        from clickhouseocp_spark.formats import render

        head = query.lstrip().split(None, 1)[0].upper() if query.strip() else ""
        m = detect_trailing_format(query)
        fmt = m or default_format or "TabSeparated"
        # SELECT ... INTO OUTFILE 'path' [FORMAT x]: clickhouse-local writes
        # the rendered result to a driver-local file (format from the
        # extension when no FORMAT is given) and reports the row count on
        # stdout.  Driver-side by design — bulk exports go through
        # sources/writers.py; this is the interactive-tool surface.
        mo = _re.search(
            r"\bINTO\s+OUTFILE\s+'([^']+)'", query, _re.IGNORECASE
        )
        if mo and head not in ("INSERT",):
            path = mo.group(1)
            query = query[: mo.start()] + query[mo.end():]
            if not m:
                if path.endswith(".parquet"):
                    fmt = "Parquet"
                elif path.endswith(".csv"):
                    fmt = "CSVWithNames"
            df = self.sql(query, dialect=dialect)
            # binary columnar formats go through the DISTRIBUTED writer (no
            # driver materialization, unlike the renderings below) —
            # clickhouse-local supports FORMAT Parquet/ORC/Arrow the same
            # way; an Observation counts the rows inside the write's own job
            binfmt = {"parquet": "parquet", "orc": "orc", "arrow": "parquet"}
            if fmt.lower() in binfmt:
                from pyspark.sql import Observation
                from pyspark.sql import functions as F

                obs = Observation()
                df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
                    "errorifexists"
                ).format(binfmt[fmt.lower()]).save(path)
                n = obs.get["rows"]
            else:
                st: dict = {}
                out = render(df, fmt, max_rows, stats=st)
                with open(path, "wb" if isinstance(out, bytes) else "w") as fh:
                    fh.write(out)
                n = st["result_rows"]  # the rows written, capped at max_rows
            if stats is not None:
                stats["written_rows"] = n
            return f"{n} rows written to {path}."
        df = self.sql(query, dialect=dialect)
        return render(df, fmt, max_rows, stats=stats)

    def insert_binary(
        self, statement: str, data: bytes, stats: dict | None = None
    ) -> DataFrame:
        """``INSERT INTO t [(cols)] FORMAT <name>`` with a binary data body,
        for any ``<name>`` in ``formats.BINARY`` — the bulk-ingest shape CH
        drivers send over HTTP.  Formats with a header name their columns,
        which must exist in the target; plain RowBinary has none and decodes
        against the target's types for the listed columns (all by default).
        Absent columns default to NULL; rows append by union.  ``stats``
        (optional out-param) receives ``written_rows`` for the HTTP summary
        headers."""
        import re as _re

        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        from clickhouseocp_spark.chsql import ChSqlError
        from clickhouseocp_spark.formats import (
            BINARY,
            _rb_spark_to_ch,
            canonical,
            parse_rowbinary,
        )

        m = _re.match(
            r"(?is)^INSERT\s+INTO\s+(\w+)\s*(?:\(([\w\s,]+)\)\s*)?"
            r"FORMAT\s+(\w+)\s*$",
            statement.strip(),
        )
        fmt = canonical(m.group(3)) if m else None
        if fmt not in BINARY:
            raise ChSqlError(
                f"not an INSERT ... FORMAT <binary format> statement: "
                f"{statement!r}"
            )
        t = m.group(1).lower()
        target = self._base_table(t)
        fields = {f.name: f for f in target.schema.fields}
        parse = BINARY[fmt][1]
        if parse is not None:
            names, rows = parse(data)
        elif m.group(2):
            names = [c.strip() for c in m.group(2).split(",")]
        else:
            names = list(target.columns)
        unknown = [c for c in names if c not in fields]
        if unknown:
            raise ChSqlError(f"{fmt} column names {unknown} not in table {t!r}")
        if parse is None:  # no header: decode against the target's types
            rows = parse_rowbinary(
                data,
                [
                    _rb_spark_to_ch(
                        fields[c].dataType.simpleString(), fields[c].nullable
                    )
                    for c in names
                ],
            )
        if stats is not None:
            stats["written_rows"] = len(rows)
        incoming = self.spark.createDataFrame(
            rows, StructType([fields[c] for c in names])
        )
        incoming = incoming.select(
            *(
                c if c in names else F.lit(None).cast(fields[c].dataType).alias(c)
                for c in target.columns
            )
        )
        return self._set_lineage(t, target.unionByName(incoming))

    def refresh_views(self) -> list[str]:
        """Recompute every refreshable materialized view (the scheduler-less
        analog of CH's background refresh loop; call it from any external
        scheduler at the recorded cadence)."""
        names = list(getattr(self, "_refreshable_views", {}))
        for name in names:
            self.execute(f"SYSTEM REFRESH VIEW {name}")
        return names

    def format(self, sql: str) -> str:
        """``clickhouse-format`` analog (the image symlinks the tool,
        Dockerfile:152-177): canonical one-clause-per-line uppercase-keyword
        layout via the dialect tokenizer."""
        from clickhouseocp_spark.chsql import format_sql

        return format_sql(sql)

    def benchmark(self, query: str, iterations: int = 5, dialect: str = "auto"):
        """``clickhouse-benchmark`` analog (Dockerfile:152-177): run a query
        ``iterations`` times (after one warmup), return timing percentiles
        the way the tool reports them.  Execution = full result count per
        iteration (the library has no wire protocol to drain)."""
        import time as _time

        self.sql(query, dialect=dialect).count()  # warmup
        times = []
        for _ in range(iterations):
            t0 = _time.perf_counter()
            self.sql(query, dialect=dialect).count()
            times.append(_time.perf_counter() - t0)
        ts = sorted(times)

        def pct(p: float) -> float:
            return round(ts[min(int(p * len(ts)), len(ts) - 1)], 4)

        return {
            "iterations": iterations,
            "qps": round(iterations / sum(ts), 3),
            "min": round(ts[0], 4),
            "p50": pct(0.5),
            "p90": pct(0.9),
            "max": round(ts[-1], 4),
        }
