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

import os
import re
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouseocp_spark.catalog import _session_key, local_frame, register_tables
from clickhouseocp_spark.chsql import (
    _PARAM_RE,
    ChSqlError,
    _map_type,
    expand_param_views,
    transpile_expr,
)
from clickhouseocp_spark.functions import clickhouse_names as _ch
from clickhouseocp_spark.session import get_spark

_HEAD_RE = re.compile(r"\s*(\S+)")


def statement_head(query: str) -> str:
    """The first keyword of *query*, upper-cased ("" for blank text): the
    key every front door routes and classifies a statement by."""
    m = _HEAD_RE.match(query)
    return m.group(1).upper() if m else ""


def detect_trailing_format(query: str) -> str | None:
    """The trailing ``FORMAT <name>`` of a statement, or None when absent —
    or when the statement is an INSERT (there the FORMAT names the INPUT
    data format, not a rendering).  The single source of truth shared by
    ``ChSparkEngine.run`` and the HTTP layer (``server.py``) so rendering
    and Content-Type can never desynchronize."""
    if statement_head(query) == "INSERT":
        return None
    m = re.search(r"\bFORMAT\s+(\w+)\s*;?\s*$", query, re.IGNORECASE)
    return m.group(1) if m else None


def strip_trailing_format(query: str) -> str:
    """The statement without its trailing ``FORMAT <name>`` clause (no-op
    when absent / INSERT) — for callers that render out-of-band."""
    if detect_trailing_format(query) is None:
        return query
    return re.sub(r"\bFORMAT\s+\w+\s*;?\s*$", "", query, flags=re.IGNORECASE)


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


def _column_list(text: str | None) -> list[str] | None:
    """The names in an INSERT's ``(a, b, ...)`` column list."""
    return [c.strip() for c in text.split(",")] if text else None


def _unsupported(statement: str) -> ChSqlError:
    return ChSqlError(
        f"unsupported statement: {statement.strip().rstrip(';')[:80]!r}"
    )


class _Statement(NamedTuple):
    """One statement form: one row of the statement table."""

    head: str  # its leading keywords; the first is the routing key
    pattern: re.Pattern  # anchored, matched against the stripped text
    handler: Callable[..., DataFrame]  # engine method taking the groups
    writes: bool  # refused under readonly=1 (CH code 164)
    names: tuple[str, ...]  # the lower-cased name groups


#: The statement table: head keyword → the head's forms, tried in order.
#: Each ``@_statement`` handler of :class:`ChSparkEngine` adds one row.
_STATEMENTS: dict[str, list[_Statement]] = {}

_NAME_RE = re.compile(r"\{([a-z]\w*)\}")


def _statement(head: str, pattern: str, writes: bool = True):
    """Register the decorated engine method as the handler of the form
    ``head pattern``.  A space in either stands for ``\\s+`` (``\\x20`` is a
    literal space); ``{x}`` in *pattern* captures an identifier as group
    ``x`` and lower-cases it (the table, view, policy and index names).  The
    anchors are added here."""
    rx = _NAME_RE.sub(r"(?P<\1>\\w+)", f"{head} {pattern}").replace(" ", r"\s+")
    compiled = re.compile(f"(?is)^{rx}$")
    names = tuple(_NAME_RE.findall(pattern))

    def register(fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
        row = _Statement(head, compiled, fn, writes, names)
        _STATEMENTS.setdefault(head.split()[0], []).append(row)
        return fn

    return register


def match_statement(query: str) -> tuple[_Statement, dict] | None:
    """The first form of *query*'s head that matches it, with its named
    groups; None when none does.  A head with no forms (SELECT, WITH, ...)
    costs one dict miss."""
    forms = _STATEMENTS.get(statement_head(query))
    if forms:
        text = query.strip().rstrip(";").rstrip()
        for row in forms:
            m = row.pattern.match(text)
            if m:
                groups = m.groupdict()
                for k in row.names:
                    groups[k] = groups[k].lower()
                return row, groups
    return None


def statement_writes(query: str) -> bool:
    """Whether *query* writes, so readonly=1 refuses it.  A statement that
    no form matches writes when any form of its head does: a misspelled
    mutation is refused too."""
    found = match_statement(query)
    if found:
        return found[0].writes
    return any(row.writes for row in _STATEMENTS.get(statement_head(query), ()))


def parse_set(query: str) -> tuple[str, str] | None:
    """``(name, value)`` of a ``SET name = value`` statement, else None: the
    one SET parser, shared by the engine and the HTTP session settings."""
    found = statement_head(query) == "SET" and match_statement(query)
    if found:
        return found[1]["name"], found[1]["value"].strip("'")
    return None


#: the tail a bare column-list CREATE TABLE accepts after its columns
_DDL_TAIL_RE = re.compile(
    r"(?is)^ENGINE\s*=\s*(?!Kafka\b)\w+(?:\([^)]*\))?"
    r"(?:\s+PARTITION\s+BY\s+\w+)?(?:\s+ORDER\s+BY\s+[\w,() ]+?)?"
    r"(?:\s+TTL\s+(.+?))?\s*;?\s*$"
)

#: a reference to a system view (``system.X``; chsql rewrites it to the
#: ``system_X`` view) or an information_schema view
_SYSTEM_REF_RE = re.compile(r"(?i)\b(system|information_schema)[._](\w+)")


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
        #: session settings applied via SET (system.settings' changed rows)
        self.settings: dict[str, str] = {}
        self._default_dialect: str | None = None  # SET dialect = '...'
        self._query_log: list[tuple] = []  # system.query_log rows
        self._query_cache: dict[tuple[str, str], DataFrame] = {}
        #: CTAS MergeTree layouts live under this directory, made on first use
        self._table_dir: str | None = None
        self._table_partitions: dict[str, tuple] = {}  # PARTITION BY keys
        self._ttl_exprs: dict[str, str] = {}  # row TTL, applied at OPTIMIZE
        self._dropped: dict[str, DataFrame] = {}  # parked for UNDROP TABLE
        self._dropped_ttl: dict[str, str] = {}
        self._detached: dict[str, DataFrame] = {}  # parked for ATTACH TABLE
        #: row policy → (table, predicate): predicate strings, not DataFrame
        #: snapshots, so mutations made while a policy is active persist
        #: through its drop, and stacked policies compose/drop in any order
        self._row_policies: dict[str, tuple[str, str]] = {}
        self._policy_base: dict[str, DataFrame] = {}  # lineage under policies
        self._param_views: dict[str, str] = {}  # parameterized view bodies
        #: refreshable materialized view → (interval, body)
        self._refreshable_views: dict[str, tuple[str, str]] = {}
        self._indexes: dict[str, tuple[str, str, str]] = {}  # full-text
        self.streams: dict[str, DataFrame] = {}  # ENGINE = Kafka tables
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
            if self.settings.get("use_query_cache") in (
                "1", "true", "True"
            ) and statement_head(query) in ("SELECT", "WITH", "FROM"):
                # query cache (CH `use_query_cache`, 23.x+): SELECT results
                # keyed by whitespace-normalized text + dialect, persisted so
                # repeat executions read the in-memory columnar copy
                key = (dialect, " ".join(query.split()))
                if key not in self._query_cache:
                    self._query_cache[key] = self._sql_impl(query, dialect).persist()
                return self._query_cache[key]
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

        log = self._query_log
        log.append(
            (
                len(log) + 1,
                _time.strftime("%Y-%m-%d %H:%M:%S", _time.gmtime()),
                statement_head(query) or "EMPTY",
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
        log = self._query_log
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
        rows = list(self._query_log)
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
        df = self.system_query_log().withColumn(
            "event_yyyymm",
            F.date_format(F.to_date("event_date"), "yyyyMM").cast("int"),
        )
        df.write.partitionBy("event_yyyymm").mode("append").parquet(path)
        return path

    #: CH session settings with a direct Spark-conf analog; everything else
    #: is accepted and recorded (CH tolerates hundreds of settings — erroring
    #: would break real ops scripts), queryable via eng.settings
    _SETTING_MAP = {
        "max_threads": "spark.sql.shuffle.partitions",
        "session_timezone": "spark.sql.session.timeZone",
        "timezone": "spark.sql.session.timeZone",
    }

    def system_metrics(self) -> DataFrame:
        """`system.metrics`-style counters derived from live session state
        (the CH table is a point-in-time gauge set; ours is the subset a
        library engine can honestly report)."""
        log = self._query_log
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
                len(self._query_cache),
                "persisted SELECT results (use_query_cache)",
            ),
            (
                "SettingsChanged",
                len(self.settings),
                "session settings applied via SET",
            ),
        ]
        return local_frame(
            self.spark, rows, "metric string, value bigint, description string"
        )

    def _sql_impl(self, query: str, dialect: str = "auto") -> DataFrame:
        if dialect == "auto" and self._default_dialect:
            dialect = self._default_dialect  # SET dialect = '...'
        head = statement_head(query)
        if head in _STATEMENTS:
            return self.execute(query, dialect)
        if self._param_views and head in ("SELECT", "WITH", "FROM"):
            query = expand_param_views(query, self._param_views)
        self._register_system_views(query)
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
        if not re.search(r"(?i)\bCOLUMNS\s*\(", query):
            return query
        mt = re.search(r"(?is)\bFROM\s+([A-Za-z_]\w*)", query)
        if not mt:
            return query
        try:
            fields = [f.name for f in self.spark.table(mt.group(1)).schema.fields]
        except Exception:  # noqa: BLE001 — unknown table errors surface later
            return query

        def _expand(m: "re.Match[str]") -> str:
            rx, fn = m.group(1), m.group(2)
            cols = [c for c in fields if re.search(rx, c)]
            if not cols:
                raise ChSqlError(
                    f"COLUMNS({rx!r}) matched no columns of {mt.group(1)}"
                )
            if fn:
                return ", ".join(f"{fn}({c}) AS `{fn}({c})`" for c in cols)
            return ", ".join(cols)

        return re.sub(
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

    def execute(self, statement: str, dialect: str = "auto") -> DataFrame:
        """Run one statement through the statement table (``_STATEMENTS``,
        SURVEY §2.1: the reference accepts DDL, mutations and ops statements
        over the same SQL transport as SELECTs).  Only the forms of the
        statement's head are tried, in table order; the first that matches
        runs.  The forms are the ``@_statement`` handlers below: the session
        reads (``SET``, ``SHOW``, ``EXISTS``, ``DESCRIBE``, ``EXPLAIN`` —
        ``dialect`` is the one EXPLAIN plans in), DDL (``CREATE``, ``DROP``,
        ``RENAME``, ``EXCHANGE``, ``ATTACH``/``DETACH``/``UNDROP``),
        mutations (``INSERT``, ``ALTER TABLE``, ``DELETE``, ``TRUNCATE``,
        ``OPTIMIZE``) and ops (``SYSTEM``, ``KILL``, ``CHECK``,
        ``BACKUP``/``RESTORE``).

        A mutation replaces the session view's lineage (the parquet fixtures
        are immutable; persist with sources/writers if needed) — CH's
        mutations are likewise deferred rewrites, not in-place edits.
        Expressions go through the CH-dialect rewriter (chsql.transpile_expr).
        """
        found = match_statement(statement)
        if found is None:
            if statement_head(statement) == "SET":
                raise ChSqlError(f"cannot parse SET statement: {statement!r}")
            raise _unsupported(statement)
        row, groups = found
        if row.head == "EXPLAIN":
            groups["dialect"] = dialect
        return row.handler(self, **groups)

    def _empty(self, column: str, value: str) -> DataFrame:
        """The zero-row acknowledgement of a DDL or ops statement."""
        return self.spark.range(0).select(F.lit(value).alias(column))

    # The statement table: each ``@_statement`` handler below is one row
    # (head, pattern, write flag).  The forms of one head are tried in the
    # order they are written here, so an overlapping form comes first.

    @_statement("SET", r"{name}\s*=\s*(?P<value>'[^']*'|\S+?)", writes=False)
    def _set_statement(self, name: str, value: str) -> DataFrame:
        """``SET name = value`` (the clickhouse-client session-settings
        surface; the reference image's profiles set these same knobs,
        Dockerfile:246-252).  ``SET dialect = 'prql'|'clickhouse'`` switches
        the auto-path default, mirroring upstream's PRQL toggle."""
        value = value.strip("'")
        self.settings[name] = value
        if name == "dialect":
            self._default_dialect = value
        elif name in self._SETTING_MAP:
            self.spark.conf.set(self._SETTING_MAP[name], value)
        return local_frame(
            self.spark, [(name, value)], "setting string, value string"
        ).limit(0)

    @_statement("SHOW", "TABLES", writes=False)
    def _show_tables(self) -> DataFrame:
        return self.system_tables()

    @_statement("SHOW", "DATABASES", writes=False)
    def _show_databases(self) -> DataFrame:
        return local_frame(self.spark, [("default",)], "name string")

    @_statement("SHOW", "PROCESSLIST", writes=False)
    def _show_processlist(self) -> DataFrame:
        # session engine: no concurrent query daemon → always empty, with
        # the CH column surface so ops scripts parse the result
        return local_frame(
            self.spark,
            [],
            "query_id string, user string, query string, elapsed double",
        )

    @_statement("SHOW", "CREATE TABLE {name}", writes=False)
    def show_create_table(self, name: str) -> DataFrame:
        """``SHOW CREATE TABLE t``: synthesize CH-style DDL from the live
        schema + the table's physical layout (partition dirs of a CTAS
        MergeTree materialization when present)."""
        df = self._table(name)

        def ch_type(t: str) -> str:
            if t.startswith("decimal"):
                return "Decimal" + t[len("decimal"):]
            if t.startswith("array<") and t.endswith(">"):
                return f"Array({ch_type(t[6:-1])})"
            return self._CH_TYPE_NAMES.get(t, t)

        cols = ",\n    ".join(f"`{c}` {ch_type(t)}" for c, t in df.dtypes)
        partition = ""
        if self._table_dir is not None:
            root = os.path.join(self._table_dir, name)
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

    @_statement("SHOW", "(?P<rest>.+)", writes=False)
    def _show_spark(self, rest: str) -> DataFrame:
        # the other SHOW forms (FUNCTIONS, COLUMNS, VIEWS, …) are Spark SQL's
        return self.spark.sql(f"SHOW {rest}")

    @_statement("EXISTS", r"(?:\w+ )*{t}", writes=False)
    def _exists(self, t: str) -> DataFrame:
        return local_frame(
            self.spark, [(1 if t in self.tables else 0,)], "result int"
        )

    @_statement("DESCRIBE", "(?:TABLE )?{t}", writes=False)
    @_statement("DESC", "(?:TABLE )?{t}", writes=False)
    def _describe(self, t: str) -> DataFrame:
        self._table(t)  # raise on unknown, consistent error surface
        return self.spark.sql(f"DESCRIBE {t}")

    @_statement(
        "EXPLAIN",
        r"(?:(?P<mode>AST|SYNTAX|PLAN|PIPELINE|ESTIMATE)\b\s*)?(?P<body>.*)",
        writes=False,
    )
    def _explain_statement(
        self, mode: str | None, body: str, dialect: str
    ) -> DataFrame:
        mode = (mode or "PIPELINE").upper()
        if mode == "ESTIMATE":
            return self.explain_estimate(body)
        plan = self.explain(body, dialect=dialect, mode=mode)
        return local_frame(
            self.spark, [(line,) for line in plan.splitlines()], "plan string"
        )

    @_statement(
        "CREATE",
        r"MATERIALIZED VIEW (?:IF NOT EXISTS )?{name} "
        r"REFRESH EVERY (?P<n>\d+) (?P<unit>\w+) AS (?P<body>SELECT.+)",
    )
    def _create_refreshable_view(
        self, name: str, n: str, unit: str, body: str
    ) -> DataFrame:
        # refreshable MV (CH 23.12): full-recompute on schedule.  The
        # session engine has no daemon, so the schedule is recorded and
        # refresh runs on SYSTEM REFRESH VIEW <name> (the CH manual
        # trigger) or engine.refresh_views() — each recompute replaces
        # the stored table atomically, exactly CH's
        # refresh-into-new-table-and-exchange semantics.
        self._refreshable_views[name] = (f"{int(n)} {unit.upper()}", body)
        return self._create_table(name, self.sql(body), (), ())

    @_statement("SYSTEM", "REFRESH VIEW {name}")
    def _refresh_view(self, name: str) -> DataFrame:
        if name not in self._refreshable_views:
            raise ChSqlError(f"SYSTEM REFRESH VIEW: {name!r} is not a "
                             "refreshable materialized view")
        body = self._refreshable_views[name][1]
        return self._create_table(name, self.sql(body), (), ())

    @_statement(
        "CREATE",
        r"(?P<kind>MATERIALIZED |WINDOW )?VIEW (?:IF NOT EXISTS )?{name} "
        r"AS (?P<body>SELECT.+)",
    )
    def _create_view(self, kind: str | None, name: str, body: str) -> DataFrame:
        kind = (kind or "").strip().upper()
        if not kind and _PARAM_RE.search(body):
            # parameterized view (CH 23.1): the body keeps {p:Type}
            # placeholders and is instantiated per call via
            # SELECT ... FROM name(p = value)
            self._param_views[name] = body
            return self._empty("view", name)
        df = self.sql(body)
        if kind == "MATERIALIZED":
            # compute once into the MergeTree layout and read it back (CH
            # MVs store; plain views recompute per read)
            return self._create_table(name, df, (), ())
        # WINDOW VIEW (CH 22.x experimental, in the pinned image):
        # tumble()/hop() group-by windows.  Batch analog — the view
        # recomputes per read over the current data, exactly like a plain
        # VIEW whose body uses the window functions; CH's incremental
        # fire-on-insert/fire-on-watermark machinery is the
        # Structured-Streaming tier (streaming/pipeline.py tumbling/hopping
        # queries).  tumble/hop lower to Spark's window() struct
        # (chsql._window_tvf_expr).
        return self._replace_view(name, df)

    @_statement(
        "CREATE TABLE",
        r"(?:IF NOT EXISTS )?{name}\s*(?:\((?P<cols>[^)]*)\)\s*)?"
        r"ENGINE\s*=\s*Kafka\b(?P<tail>.*)",
    )
    def _create_kafka_table(
        self, name: str, cols: str | None, tail: str
    ) -> DataFrame:
        """``CREATE TABLE q (...) ENGINE = Kafka SETTINGS kafka_broker_list =
        '...', kafka_topic_list = '...'`` — the reference's streaming-ingest
        engine (SURVEY §2.1; typically paired with a materialized view).

        With the spark-sql-kafka connector present this builds the streaming
        DataFrame (CH virtual columns + the declared schema parsed from the
        JSONEachRow payload) and registers it under ``self.streams[name]``.
        Without the jars it raises the ACTIONABLE enable recipe — the exact
        package coordinate and session config — instead of an opaque
        DATA_SOURCE_NOT_FOUND at first read."""
        from clickhouseocp_spark.streaming.pipeline import (
            kafka_available,
            kafka_events_stream,
        )

        settings = dict(re.findall(r"(?i)(\w+)\s*=\s*'([^']*)'", tail))
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
        if cols and cols.strip():
            fields = []
            for part in cols.split(","):
                bits = part.strip().split()
                if len(bits) >= 2:
                    fields.append(f"{bits[0]} {_map_type(bits[1])}")
            stream = stream.select(
                "*", F.from_json("value", ", ".join(fields)).alias("__row")
            ).select("_topic", "_partition", "_offset", "_timestamp", "__row.*")
        self.streams[name] = stream
        return stream

    @_statement("CREATE TABLE", r"(?:IF NOT EXISTS )?{t}\s*(?P<rest>\(.*)")
    def _create_empty_table(self, t: str, rest: str) -> DataFrame:
        """Bare column-list DDL (no AS SELECT): an empty typed table."""
        # balanced-paren scan (the column list nests parens:
        # LowCardinality(String), Decimal(p,s))
        depth, end = 0, -1
        for i, ch in enumerate(rest):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    end = i
                    break
        mtail = _DDL_TAIL_RE.match(rest[end + 1 :].strip()) if end >= 0 else None
        if mtail is None:
            raise _unsupported(f"CREATE TABLE {t} {rest}")
        self._set_ttl(t, mtail.group(1))
        fields = []
        for coldef in _split_assignments(rest[1:end]):
            parts = coldef.strip().split(None, 1)
            if len(parts) != 2:
                raise ChSqlError(f"malformed column definition: {coldef!r}")
            fields.append(f"{parts[0]} {self._spark_type(parts[1].strip())}")
        self._replace_view(t, local_frame(self.spark, [], ", ".join(fields)))
        return local_frame(self.spark, [(t,)], "created string").limit(0)

    @_statement(
        "CREATE TABLE",
        r"(?:IF NOT EXISTS )?{t}\s*(?:ENGINE\s*=\s*\w+(?:\(\s*\))?\s*)?"
        r"(?:PARTITION BY (?P<partition>\w+)\s*)?"
        r"(?:ORDER BY (?:\((?P<order>[^)]*)\)|(?P<order_cols>[\w,\x20]+?))\s*)?"
        r"(?:TTL (?P<ttl>.+?) )?AS (?P<body>SELECT.+)",
    )
    def _create_table_as(
        self, t: str, partition: str | None, order: str | None,
        order_cols: str | None, ttl: str | None, body: str,
    ) -> DataFrame:
        """CTAS ``CREATE TABLE t [ENGINE = MergeTree] [PARTITION BY col]
        [ORDER BY cols] [TTL expr] AS SELECT ...``, materialized in the
        MergeTree-equivalent parquet layout (partition dirs + sorted row
        groups) and read back, so later queries prune partitions."""
        self._set_ttl(t, ttl)
        keys = (order or order_cols or "").split(",")
        return self._create_table(
            t,
            self.sql(body),
            (partition,) if partition else (),
            tuple(c.strip() for c in keys if c.strip()),
        )

    def _set_ttl(self, t: str, ttl: str | None) -> None:
        """Record table *t*'s MergeTree row TTL, which merges apply — here
        OPTIMIZE (CH's own semantics are lazy: the expired rows remain
        readable until a merge runs).  A re-CREATE without TTL must not
        inherit a prior same-named table's TTL expression."""
        if ttl:
            self._ttl_exprs[t] = transpile_expr(ttl.strip())
        else:
            self._ttl_exprs.pop(t, None)

    @_statement("CREATE", r"ROW POLICY {pol} ON {t} USING (?P<cond>.+?)(?: TO \w+)?")
    def _create_row_policy(self, pol: str, t: str, cond: str) -> DataFrame:
        base = self._base_table(t)
        self._row_policies[pol] = (t, transpile_expr(cond))
        return self._set_lineage(t, base)

    @_statement(
        "INSERT INTO",
        r"{t}\s*(?:\((?P<cols>[\w\s,]+)\)\s*)?"
        r"FORMAT (?P<fmt>JSONEachRow|CSV|TSV|TabSeparated) (?P<data>.+)",
    )
    def _insert_text(
        self, t: str, cols: str | None, fmt: str, data: str
    ) -> DataFrame:
        """``INSERT INTO t [(cols)] FORMAT JSONEachRow|CSV|TSV <rows>``:
        JSONEachRow (the reference's Kafka/HTTP ingestion format) matches
        fields by name; the delimited formats (clickhouse-client's default
        INSERT formats) map by position onto the column list."""
        target = self._base_table(t)
        dt = dict(target.dtypes)
        names = _column_list(cols) or target.columns
        schema = ", ".join(f"{c} {dt[c]}" for c in names)
        lines = self.spark.createDataFrame(
            [(ln,) for ln in data.splitlines() if ln.strip()], "ln string"
        )
        if fmt.upper() == "JSONEACHROW":
            row = F.from_json("ln", schema)
        else:
            sep = "," if fmt.upper() == "CSV" else "\t"
            row = F.from_csv("ln", schema, {"sep": sep})
        incoming = lines.select(row.alias("m")).select("m.*")
        return self._append(t, target, incoming, names)

    @_statement(
        "INSERT INTO",
        r"{t}\s*(?:\((?P<cols>[\w\s,]+)\)\s*)?(?P<body>SELECT.+|VALUES.+)",
    )
    def _insert_select(self, t: str, cols: str | None, body: str) -> DataFrame:
        """``INSERT INTO t [(cols)] SELECT ...|VALUES ...``: positional, like
        CH, except that a SELECT of exactly the target's columns appends by
        name."""
        target = self._base_table(t)
        if body[:6].upper() == "VALUES":
            body = self._values_to_select(body)
        incoming = self.sql(body)
        names = _column_list(cols)
        if names is None and set(incoming.columns) == set(target.columns):
            names = target.columns  # by name
        else:
            names = names or (
                target.columns
                if len(incoming.columns) == len(target.columns)
                else None
            )
            if names is None:
                raise ChSqlError(
                    f"INSERT arity mismatch: {len(incoming.columns)} values "
                    f"for {len(target.columns)} columns"
                )
            incoming = incoming.toDF(*names)
        return self._append(t, target, incoming, names)

    @_statement("DROP", r"ROW POLICY {pol}(?: ON \w+)?")
    def _drop_row_policy(self, pol: str) -> DataFrame:
        if pol not in self._row_policies:
            raise ChSqlError(f"unknown row policy {pol!r}")
        t, _cond = self._row_policies.pop(pol)
        return self._set_lineage(t, self._base_table(t))

    @_statement("DROP", r"(?:TABLE|VIEW) (?P<if_exists>IF EXISTS )?{t}")
    def _drop_table(self, if_exists: str | None, t: str) -> DataFrame:
        """``DROP TABLE|VIEW [IF EXISTS] t``.  Without IF EXISTS an unknown
        name raises the unknown-table error, as TRUNCATE does."""
        if t in self._param_views:
            del self._param_views[t]
        elif t in self.tables:
            # CH keeps dropped tables recoverable until
            # database_atomic_delay_before_drop_table_sec — park the
            # lineage so UNDROP TABLE can restore it
            self._dropped[t] = self.tables.pop(t)
            self.spark.catalog.dropTempView(t)
            # TTL is table metadata: it must not survive the drop and
            # silently apply to a later same-named table — park it
            # alongside the lineage so UNDROP restores it too
            if t in self._ttl_exprs:
                self._dropped_ttl[t] = self._ttl_exprs.pop(t)
        elif not if_exists:
            self._table(t)  # raises the unknown-table KeyError
        return self._empty("dropped", t)

    @_statement("BACKUP TABLE", r"{t} TO (?:File\s*\(\s*)?'(?P<path>[^']+)'\s*\)?")
    def _backup_table(self, t: str, path: str) -> DataFrame:
        # CH 23.x BACKUP TABLE t TO File('path'): a self-contained copy
        # readable by any engine — here a parquet snapshot of the current
        # lineage (policies and mutations included, like CH's data dump)
        self._table(t).write.mode("errorifexists").parquet(path)
        return local_frame(
            self.spark, [(t, path, "BACKUP_CREATED")],
            "table string, path string, status string",
        )

    @_statement("RESTORE TABLE", r"{t} FROM (?:File\s*\(\s*)?'(?P<path>[^']+)'\s*\)?")
    def _restore_table(self, t: str, path: str) -> DataFrame:
        if not os.path.isdir(path):
            raise ChSqlError(f"RESTORE TABLE: no backup at {path!r}")
        return self._set_lineage(t, self.spark.read.parquet(path))

    @_statement("UNDROP TABLE", "{t}")
    def _undrop_table(self, t: str) -> DataFrame:
        parked = self._dropped.pop(t, None)
        if parked is None:
            raise ChSqlError(f"UNDROP TABLE: no recoverable table {t!r}")
        if t in self._dropped_ttl:
            self._ttl_exprs[t] = self._dropped_ttl.pop(t)
        return self._set_lineage(t, parked)

    @_statement(
        "ALTER TABLE",
        r"{t} (?P<action>DROP|DETACH|ATTACH) PARTITION (?P<value>'[^']*'|\S+)",
    )
    def _alter_partition(self, t: str, action: str, value: str) -> DataFrame:
        """``ALTER TABLE t DROP|DETACH|ATTACH PARTITION v`` over the layout's
        partition directories — the MergeTree partition-lifecycle surface
        (detached parts live next to the layout, exactly CH's detached/)."""
        import shutil

        action, value = action.upper(), value.strip("'")
        path = self._layout_path(t)
        parts = self._table_partitions.get(t) or ()
        if not parts:
            raise ChSqlError(
                f"table {t!r} was not created with PARTITION BY — "
                "no partitions to alter"
            )
        pdir = os.path.join(path, f"{parts[0]}={value}")
        ddir = os.path.join(
            os.path.dirname(path), f"detached_{t}", f"{parts[0]}={value}"
        )
        if action == "DROP":
            if not os.path.isdir(pdir):
                raise ChSqlError(f"no partition {value!r} in table {t!r}")
            shutil.rmtree(pdir)
        elif action == "DETACH":
            if not os.path.isdir(pdir):
                raise ChSqlError(f"no partition {value!r} in table {t!r}")
            os.makedirs(os.path.dirname(ddir), exist_ok=True)
            shutil.move(pdir, ddir)
        elif action == "ATTACH":
            if not os.path.isdir(ddir):
                raise ChSqlError(
                    f"no detached partition {value!r} for table {t!r}"
                )
            shutil.move(ddir, pdir)
        return self._reread_layout(t)

    @_statement("ALTER TABLE", r"{t} FREEZE(?: WITH NAME '(?P<backup>\w+)')?")
    def _freeze_table(self, t: str, backup: str | None) -> DataFrame:
        """``ALTER TABLE t FREEZE [WITH NAME 'x']``: hard-link-free snapshot
        of the layout into shadow/<backup>/<table> (CH freezes parts into
        shadow/); returns the backup path."""
        import shutil

        path = self._layout_path(t)
        shadow = os.path.join(os.path.dirname(path), "shadow", backup or "default", t)
        if os.path.isdir(shadow):
            shutil.rmtree(shadow)
        shutil.copytree(path, shadow)
        return self.spark.range(1).select(
            F.lit(shadow).alias("backup_path"), F.lit(t).alias("table")
        )

    @_statement(
        "ALTER TABLE",
        r"{t} ADD COLUMN (?:IF NOT EXISTS )?(?P<col>\w+) "
        r"(?P<ch_type>[\w()0-9,\x20]+?)(?: DEFAULT (?P<default>.+))?",
    )
    def _add_column(
        self, t: str, col: str, ch_type: str, default: str | None
    ) -> DataFrame:
        value = F.expr(transpile_expr(default)) if default else F.lit(None)
        out = self._base_table(t).withColumn(
            col, value.cast(_map_type(ch_type.strip()))
        )
        return self._set_lineage(t, out)

    @_statement(
        "ALTER TABLE",
        r"{t} ADD INDEX (?:IF NOT EXISTS )?{idx}\s*\(?\s*(?P<col>\w+)\s*\)? "
        r"TYPE (?P<kind>full_text|gin|inverted|tokenbf_v1).*",
    )
    def _add_index(self, t: str, idx: str, col: str, kind: str) -> DataFrame:
        # CH experimental full-text index (25.x `full_text`, ex-`inverted`;
        # tokenbf_v1 is the bloom variant): the Spark-native index is a
        # postings TABLE — build it now, register it as <table>__idx_<name>
        # so text queries can consult it (SELECT doc ids FROM the postings
        # WHERE token = ...), bucket-keyed for partition pruning when
        # persisted (operators/fulltext.py).
        from clickhouseocp_spark.operators.fulltext import build_fulltext_index

        base = self._base_table(t)
        if col not in base.columns:
            raise ChSqlError(f"ADD INDEX: no column {col!r} in {t!r}")
        id_col = base.columns[0]  # CH indexes rows; the first column keys
        postings = build_fulltext_index(base, text_col=col, id_col=id_col)
        self._indexes[f"{t}.{idx}"] = (t, col, kind.lower())
        return self._replace_view(f"{t}__idx_{idx}", postings)

    @_statement("ALTER TABLE", r"{t} (?:DROP|CLEAR) INDEX (?:IF EXISTS )?{idx}")
    def _drop_index(self, t: str, idx: str) -> DataFrame:
        self._indexes.pop(f"{t}.{idx}", None)
        if self.tables.pop(f"{t}__idx_{idx}", None) is not None:
            self.spark.catalog.dropTempView(f"{t}__idx_{idx}")
        return self._empty("ok", "ok")

    # accepted no-ops, so CH ops scripts run unmodified: session postings
    # views are always current (MATERIALIZE INDEX), and session views have
    # no daemon state (SYSTEM FLUSH LOGS / RELOAD DICTIONARIES / KILL QUERY)
    @_statement("ALTER TABLE", r"\w+ MATERIALIZE INDEX \w+")
    @_statement("SYSTEM", r"\w+.*", writes=False)
    @_statement("KILL", r"\w+.*", writes=False)
    def _acknowledge(self) -> DataFrame:
        return self._empty("ok", "ok")

    @_statement("ALTER TABLE", r"{t} DROP COLUMN (?:IF EXISTS )?(?P<col>\w+)")
    def _drop_column(self, t: str, col: str) -> DataFrame:
        return self._set_lineage(t, self._base_table(t).drop(col))

    @_statement(
        "ALTER TABLE",
        r"{t} RENAME COLUMN (?:IF EXISTS )?(?P<old>\w+) TO (?P<new>\w+)",
    )
    def _rename_column(self, t: str, old: str, new: str) -> DataFrame:
        return self._set_lineage(
            t, self._base_table(t).withColumnRenamed(old, new)
        )

    @_statement(
        "ALTER TABLE",
        r"{t} CLEAR COLUMN (?:IF EXISTS )?(?P<col>\w+)(?: IN PARTITION \S+)?",
    )
    def _clear_column(self, t: str, col: str) -> DataFrame:
        # CH resets the column to its type default; a partition clause
        # narrows to one partition — the session view has no per-part
        # files, so the reset applies table-wide (documented deviation)
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

    @_statement("ALTER TABLE", r"{t} COMMENT COLUMN (?:IF EXISTS )?\w+ '[^']*'")
    def _comment_column(self, t: str) -> DataFrame:
        # metadata-only in CH; the session catalog keeps no comments —
        # accepted no-op so migration scripts run unmodified
        self._table(t)  # raise on unknown table
        return self._empty("ok", "ok")

    @_statement(
        "ALTER TABLE",
        r"{t} MATERIALIZE COLUMN (?P<col>\w+)(?: IN PARTITION \S+)?",
    )
    def _materialize_column(self, t: str, col: str) -> DataFrame:
        # CH forces computing a DEFAULT/MATERIALIZED column into old
        # parts; this engine's ALTERs are lineage rewrites, so every
        # column is computed at read already — accepted no-op with the
        # column-existence check (the part of the contract that can fail)
        if col not in self._base_table(t).columns:
            raise ChSqlError(f"MATERIALIZE COLUMN: no column {col!r} on {t!r}")
        return self._empty("ok", "ok")

    @_statement(
        "ALTER TABLE", r"{t} MODIFY COLUMN (?P<col>\w+) (?P<ch_type>[\w()0-9,\x20]+)"
    )
    def _modify_column(self, t: str, col: str, ch_type: str) -> DataFrame:
        out = self._base_table(t).withColumn(
            col, F.col(col).cast(_map_type(ch_type.strip()))
        )
        return self._set_lineage(t, out)

    @_statement("ALTER TABLE", r"{t} DELETE WHERE (?P<cond>.+)")
    @_statement("DELETE FROM", r"{t} WHERE (?P<cond>.+)")
    def _delete_where(self, t: str, cond: str) -> DataFrame:
        """``ALTER TABLE t DELETE WHERE cond`` and its lightweight-delete
        syntax (CH 22.8+) ``DELETE FROM t WHERE cond``: one deferred
        rewrite."""
        from clickhouseocp_spark.operators.mutations import delete_where

        out = delete_where(self._base_table(t), F.expr(transpile_expr(cond)))
        return self._set_lineage(t, out)

    @_statement("ALTER TABLE", r"{t} UPDATE (?P<assignments>.+?) WHERE (?P<cond>.+)")
    def _update_where(self, t: str, assignments: str, cond: str) -> DataFrame:
        from clickhouseocp_spark.operators.mutations import update_where

        values = {}
        for part in _split_assignments(assignments):
            col, eq, expr = part.partition("=")
            if not eq:
                raise ChSqlError(f"malformed UPDATE assignment: {part!r}")
            values[col.strip()] = F.expr(transpile_expr(expr))
        out = update_where(
            self._base_table(t), F.expr(transpile_expr(cond)), values
        )
        return self._set_lineage(t, out)

    @_statement("CHECK TABLE", "{t}", writes=False)
    def _check_table(self, t: str) -> DataFrame:
        # CH verifies part checksums and returns one row (result=1) — the
        # session-view analog verifies the lineage evaluates end to end (a
        # count() forces a full scan of every referenced file)
        n = self._table(t).count()
        return self.spark.sql(
            f"SELECT CAST(1 AS TINYINT) AS result, "
            f"CAST({n} AS BIGINT) AS rows_read"
        )

    @_statement("OPTIMIZE TABLE", r"{t}(?: FINAL)?(?P<dedup> DEDUPLICATE)?")
    def _optimize_table(self, t: str, dedup: str | None) -> DataFrame:
        """``OPTIMIZE TABLE t [FINAL] [DEDUPLICATE]``: every read is already
        the merged view (FINAL semantics by construction), so a merge only
        applies the row TTL (keeping rows whose TTL timestamp is still in
        the future; expired rows were readable until now — CH's lazy TTL
        contract) and, with DEDUPLICATE, drops fully-identical rows."""
        ttl = self._ttl_exprs.get(t)
        if not (ttl or dedup):
            return self._table(t)
        out = self._base_table(t)
        if ttl:
            out = out.where(F.expr(ttl) > F.current_timestamp())
        return self._set_lineage(t, out.distinct() if dedup else out)

    @_statement("RENAME TABLE", "{t} TO {t2}")
    def _rename_table(self, t: str, t2: str) -> DataFrame:
        df = self._table(t)
        if t2 in self.tables:
            raise ChSqlError(f"RENAME target already exists: {t2}")
        self.spark.catalog.dropTempView(t)
        del self.tables[t]
        return self._replace_view(t2, df)

    @_statement("EXCHANGE TABLES", "{t} AND {t2}")
    def _exchange_tables(self, t: str, t2: str) -> DataFrame:
        da, db = self._table(t), self._table(t2)
        self._replace_view(t, db)
        return self._replace_view(t2, da)

    @_statement("TRUNCATE TABLE", "{t}")
    def _truncate_table(self, t: str) -> DataFrame:
        return self._set_lineage(t, self._base_table(t).limit(0))

    @_statement("DETACH TABLE", "{t}")
    def _detach_table(self, t: str) -> DataFrame:
        # CH DETACH: table leaves the catalog but its data survives for a
        # later ATTACH (session analog: park the lineage aside)
        self._detached[t] = self._table(t)
        self.spark.catalog.dropTempView(t)
        del self.tables[t]
        return self._empty("detached", t)

    @_statement("ATTACH TABLE", "{t}")
    def _attach_table(self, t: str) -> DataFrame:
        if t not in self._detached:
            raise ChSqlError(f"ATTACH TABLE: no detached table {t!r}")
        return self._replace_view(t, self._detached.pop(t))

    @staticmethod
    def _values_to_select(body: str) -> str:
        """``VALUES (a, b), (c, d)`` → ``SELECT a, b UNION ALL SELECT c, d``
        with every value expression run through the CH-dialect rewriter (CH
        accepts function calls, not just literals, in VALUES)."""
        from clickhouseocp_spark.chsql import _find_close, _split_top, render, tokenize

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

    def _append(
        self, t: str, target: DataFrame, incoming: DataFrame, names: list[str]
    ) -> DataFrame:
        """The one INSERT tail: append *incoming*'s columns *names* to table
        *t*, whose lineage is *target*.  Absent columns become typed NULLs,
        every value is cast to its column's type, and the union replaces
        the lineage."""
        incoming = incoming.select(
            *(
                (F.col(f.name) if f.name in names else F.lit(None))
                .cast(f.dataType)
                .alias(f.name)
                for f in target.schema.fields
            )
        )
        return self._set_lineage(t, target.unionByName(incoming))

    def _create_table(
        self, name: str, df: DataFrame, partition: tuple, order: tuple
    ) -> DataFrame:
        """CTAS materialization: write MergeTree-equivalent parquet layout
        (directory partitions + sorted row groups — sources/writers) under a
        session-scoped directory, read it back, register the view.  Reading
        the materialized layout means later queries get partition pruning
        and sorted row groups exactly as a MergeTree table would."""
        import tempfile

        from clickhouseocp_spark.sources.writers import write_mergetree_style

        if self._table_dir is None:
            self._table_dir = tempfile.mkdtemp(prefix="chspark_tables_")
        path = os.path.join(self._table_dir, name)
        write_mergetree_style(df, path, partition_by=partition, order_by=order)
        self._table_partitions[name] = tuple(partition)
        return self._replace_view(name, self.spark.read.parquet(path))

    def _layout_path(self, name: str) -> str:
        """Materialized layout directory for *name*; raises when the table
        has no MergeTree layout (partition ops need real part directories)."""
        base = self._table_dir
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
        base = self._policy_base.get(name)
        return base if base is not None else self._table(name)

    def _set_lineage(self, name: str, df: DataFrame) -> DataFrame:
        """Replace *name*'s lineage and re-derive the visible view through
        whatever row policies are currently active (stored as predicate
        strings, so mutations survive policy create/drop in any order)."""
        preds = [
            cond
            for (t, cond) in self._row_policies.values()
            if t == name
        ]
        if not preds:
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

    def system_settings(self) -> DataFrame:
        """`system.settings` analog: the session settings applied via SET
        (changed = 1, CH's changed-flag semantics) plus the engine's pinned
        Spark-conf analogs (changed = 0)."""
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
        changed = self.settings
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
        t = ch.strip()
        m = re.match(r"(?is)^(?:Nullable|LowCardinality)\((.+)\)$", t)
        if m:
            return self._spark_type(m.group(1))
        m = re.match(r"(?is)^Array\((.+)\)$", t)
        if m:
            return f"array<{self._spark_type(m.group(1))}>"
        m = re.match(r"(?is)^Decimal\((\d+)\s*,\s*(\d+)\)$", t)
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

    def system_parts(self) -> DataFrame:
        """``system.parts`` analog over CTAS-materialized MergeTree-layout
        tables: one row per parquet data file with its partition value, row
        count and bytes — read from parquet FOOTERS (pyarrow metadata), so no
        data is scanned; cost is bounded by file count, exactly like CH's
        parts metadata.  Fixture tables (plain parquet, no layout dirs)
        report partition='' like CH's unpartitioned 'all' parts."""
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

        base = self._table_dir
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

    #: the system views SQL text can read (chsql rewrites ``system.X`` to
    #: ``system_X``), each built fresh by the statement that names it
    _SYSTEM_VIEWS = {
        "system_tables": system_tables,
        "system_columns": system_columns,
        "system_functions": system_functions,
        "system_build_options": system_build_options,
        "system_parts": system_parts,
        "system_settings": system_settings,
        "system_query_log": system_query_log,
        "system_metrics": system_metrics,
        # system.one: the 1-row constant table CH uses for FROM-less probes
        "system_one": lambda self: local_frame(
            self.spark, [(0,)], "dummy tinyint"
        ),
        # information_schema compat layer (CH ships it for BI tools):
        # SQL-standard column names projected from the system views
        "information_schema_tables": lambda self: self.system_tables().selectExpr(
            "'default' AS table_catalog",
            "'default' AS table_schema",
            "name AS table_name",
            "CASE WHEN lower(type) LIKE '%view%' THEN 'VIEW' "
            "ELSE 'BASE TABLE' END AS table_type",
        ),
        "information_schema_columns": lambda self: self.system_columns().selectExpr(
            "'default' AS table_catalog",
            "'default' AS table_schema",
            "table AS table_name",
            "name AS column_name",
            "position AS ordinal_position",
            "type AS data_type",
        ),
        "information_schema_schemata": lambda self: local_frame(
            self.spark,
            [("default", "default")],
            "catalog_name string, schema_name string",
        ),
    }

    def _register_system_views(self, query: str) -> None:
        """Build and register each system view *query* names, so it shows
        the catalog, schemas, settings and log as of this statement."""
        named = {f"{p}_{n}".lower() for p, n in _SYSTEM_REF_RE.findall(query)}
        for view in named & self._SYSTEM_VIEWS.keys():
            self._SYSTEM_VIEWS[view](self).createOrReplaceTempView(view)

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
        words = {w.lower() for w in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", sql_text)}
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
        from clickhouseocp_spark.formats import render

        m = detect_trailing_format(query)
        fmt = m or default_format or "TabSeparated"
        # SELECT ... INTO OUTFILE 'path' [FORMAT x]: clickhouse-local writes
        # the rendered result to a driver-local file (format from the
        # extension when no FORMAT is given) and reports the row count on
        # stdout.  Driver-side by design — bulk exports go through
        # sources/writers.py; this is the interactive-tool surface.
        mo = re.search(r"\bINTO\s+OUTFILE\s+'([^']+)'", query, re.IGNORECASE)
        if mo and statement_head(query) != "INSERT":
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
        from pyspark.sql.types import StructType

        from clickhouseocp_spark.formats import (
            BINARY,
            _rb_spark_to_ch,
            canonical,
            parse_rowbinary,
        )

        m = re.match(
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
        else:
            names = _column_list(m.group(2)) or list(target.columns)
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
        return self._append(t, target, incoming, names)

    def refresh_views(self) -> list[str]:
        """Recompute every refreshable materialized view (the scheduler-less
        analog of CH's background refresh loop; call it from any external
        scheduler at the recorded cadence)."""
        names = list(self._refreshable_views)
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
