"""HTTP interface analog — the reference image's port-8123 surface.

The reference exposes ClickHouse's HTTP interface (`/root/reference
Dockerfile:203-206`: HTTP 8123 alongside native TCP 9000 / MySQL 9004 /
PG 9005).  This module serves the same request shapes over the Spark engine
with nothing beyond the stdlib http.server:

- ``GET /ping`` → ``Ok.\\n`` (the CH liveness contract)
- ``GET /?query=...`` and ``POST /`` (query in the body, or ``?query=`` +
  data body for ``INSERT ... FORMAT ...`` ingestion, CH-style)
- one format table (``formats.py``) serves every format both ways: every
  read goes through ``engine.run``, which renders the trailing
  ``FORMAT <name>``, else ``?default_format=`` (param or session setting),
  else TabSeparated, CH's HTTP default; Content-Type comes from
  ``formats.content_type``.  An ``INSERT ... FORMAT <name>`` in
  ``?query=`` whose ``<name>`` is a binary format (``formats.BINARY``)
  takes its body through the one binary ingest, ``engine.insert_binary``,
  and the body is never decoded as text; other INSERT bodies are text
  appended to the statement
- ``?session_id=`` scopes ``SET name = value`` statements to that HTTP
  session (CH session semantics: settings persist across requests with the
  same id; ``dialect`` and ``default_format`` take effect, everything else
  is recorded — same tolerance policy as the engine's SET)
- ``?query_id=`` (or a server-generated id) echoes back in
  ``X-ClickHouse-Query-Id``; every success carries ``X-ClickHouse-Format``
  and ``X-ClickHouse-Timezone``, like the reference server
- gzip both ways: a request body with ``Content-Encoding: gzip`` is
  inflated; responses are gzipped when the client sends
  ``Accept-Encoding: gzip`` AND ``enable_http_compression=1`` (param or
  session setting) — CH's exact opt-in rule
- ``readonly=1`` (param or session setting, sticky) refuses, with code
  164, every statement the engine's statement table marks as writing (DDL,
  mutations, BACKUP/RESTORE, SYSTEM REFRESH VIEW; binary ingest included)
  — reads, SET, CHECK TABLE, SYSTEM FLUSH LOGS and KILL stay allowed
- errors → 500 with the real ClickHouse exception code for the common
  classes (60 UNKNOWN_TABLE, 62 SYNTAX_ERROR, 46 UNKNOWN_FUNCTION,
  47 UNKNOWN_IDENTIFIER, 36 BAD_ARGUMENTS; 1000 otherwise) in
  ``X-ClickHouse-Exception-Code`` and the message in the body — HTTP
  drivers key retry/error handling off these codes
- every successful query response carries ``X-ClickHouse-Summary`` — the
  CH JSON shape (string-valued ``read_rows``/``read_bytes``/
  ``written_rows``/``written_bytes``/``total_rows_to_read``/
  ``result_rows``/``result_bytes``/``elapsed_ns``); with
  ``send_progress_in_http_headers=1`` (param or session setting) the
  response streams CH's incremental progress shape: repeated
  ``X-ClickHouse-Progress`` header fields flushed while the query executes
  (one per ``http_headers_progress_interval_ms``, default 100 ms, plus the
  final cumulative event — always ≥2), with a buffered single-event
  fallback for gzip responses and INSERTs.
  Documented deviation: ``read_rows``/``read_bytes`` report the rows the
  driver materialized into the result, not storage-scan counters — Spark's
  per-scan metrics live in JVM SQL-metric objects the library deliberately
  doesn't reach into; clients that sum Summary fields for progress bars
  still converge because the final event equals the result totals

Architecture note (SURVEY §7): the engine stays library-first — this is a
thin adapter so HTTP-driver users can point at the Spark engine, not a
reimplementation of the native TCP protocol.  Concurrency follows the
image's ``max_concurrent_queries`` pin (Dockerfile:210, 100): a semaphore
gates query execution; Spark's scheduler interleaves the jobs.
"""

from __future__ import annotations

import gzip
import json
import re
import threading
import time
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from clickhouseocp_spark.engine import (
    detect_trailing_format,
    parse_set,
    statement_head,
    statement_writes,
)
from clickhouseocp_spark.formats import BINARY, canonical, content_type

#: common ClickHouse exception codes (from the public ErrorCodes list) that
#: HTTP drivers actually branch on
_CODE_UNKNOWN_FUNCTION = 46
_CODE_UNKNOWN_IDENTIFIER = 47
_CODE_UNKNOWN_TABLE = 60
_CODE_SYNTAX_ERROR = 62
_CODE_BAD_ARGUMENTS = 36
_CODE_READONLY = 164


def exception_code(e: Exception) -> int:
    """Map an engine/Spark exception to the ClickHouse exception code a real
    server would send.  Classification is by exception type first, then by
    the stable Spark error-class markers in the message; anything
    unrecognized keeps CH's 1000 (POCO_EXCEPTION — the generic bucket)."""
    name = type(e).__name__
    msg = str(e)
    if name in ("ChSqlError", "KqlError", "PrqlError"):
        # transpiler-level parse/unsupported-construct failures
        return _CODE_SYNTAX_ERROR
    if name == "KeyError" and "unknown table" in msg:
        return _CODE_UNKNOWN_TABLE
    if "TABLE_OR_VIEW_NOT_FOUND" in msg or "UNKNOWN_TABLE" in msg:
        return _CODE_UNKNOWN_TABLE
    if "UNRESOLVED_ROUTINE" in msg or "UNKNOWN_FUNCTION" in msg:
        return _CODE_UNKNOWN_FUNCTION
    if "UNRESOLVED_COLUMN" in msg or "UNKNOWN_IDENTIFIER" in msg:
        return _CODE_UNKNOWN_IDENTIFIER
    if "PARSE_SYNTAX_ERROR" in msg:
        return _CODE_SYNTAX_ERROR
    if isinstance(e, (ValueError, TypeError)):
        return _CODE_BAD_ARGUMENTS
    return 1000


#: an INSERT whose trailing FORMAT names its input data; with a body and a
#: name in ``formats.BINARY`` the request is a binary ingest
_INSERT_FORMAT_RE = re.compile(r"(?is)^\s*INSERT\s.*\bFORMAT\s+(\w+)\s*;?\s*$")

_TEXT = content_type("TabSeparated")


def _summary_json(
    result_rows: int = 0,
    result_bytes: int = 0,
    written_rows: int = 0,
    elapsed_ns: int = 0,
) -> str:
    """The ``X-ClickHouse-Summary`` JSON — CH emits every numeric field as a
    STRING (clickhouse-js et al. parse them with parseInt), in this key
    order."""
    return json.dumps(
        {
            "read_rows": str(result_rows),
            "read_bytes": str(result_bytes),
            "written_rows": str(written_rows),
            "written_bytes": "0",
            "total_rows_to_read": str(result_rows),
            "result_rows": str(result_rows),
            "result_bytes": str(result_bytes),
            "elapsed_ns": str(elapsed_ns),
        },
        separators=(",", ":"),
    )


def _error(
    err: Exception | str, hdrs: dict, code: int | None = None
) -> tuple[bytes, dict]:
    """Body and headers of a CH error reply: the message, and its exception
    code (``exception_code(err)`` for an exception) in
    ``X-ClickHouse-Exception-Code``."""
    if isinstance(err, Exception):
        code, err = exception_code(err), f"{type(err).__name__}: {err}"
    return f"{err}\n".encode(), {
        **hdrs,
        "Content-Type": _TEXT,
        "X-ClickHouse-Exception-Code": str(code),
    }


class ChHttpServer:
    """Serve a :class:`~clickhouseocp_spark.engine.ChSparkEngine` over the
    CH HTTP request shapes.  ``start()`` binds a daemon thread (port 0 →
    ephemeral, the bound port is in ``.port``); ``shutdown()`` stops it."""

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 8123,
                 max_concurrent_queries: int = 100):
        self.engine = engine
        self._gate = threading.Semaphore(max_concurrent_queries)
        #: session_id → {setting: value}; guarded by _sessions_lock (the
        #: ThreadingHTTPServer handles each request on its own thread)
        self._sessions: dict[str, dict[str, str]] = {}
        self._sessions_lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            server_version = "clickhouseocp-spark/25.7-compat"

            def log_message(self, *a):  # quiet: the engine's query_log records
                pass

            def _reply(
                self, code: int, data: bytes = b"", headers: dict | None = None
            ) -> None:
                self.send_response(code)
                self.send_header("X-ClickHouse-Server-Display-Name", "spark")
                self._finish(data, {"Content-Type": _TEXT, **(headers or {})})

            def _finish(self, data: bytes, headers: dict) -> None:
                """The remaining headers, Content-Length and the body."""
                for k, v in headers.items():
                    self.send_header(k, v)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def _success(
                self, out, fmt: str, stats: dict, t0: int, gzip_ok: bool,
                progress: bool,
            ) -> tuple[bytes, dict]:
                """Body and headers of a successful reply, shared by the
                streamed-progress and buffered replies: Content-Type, format,
                time zone and Summary, plus the final cumulative Progress
                event (equal to the Summary) when progress is on."""
                if isinstance(out, str):
                    if out and not out.endswith("\n"):
                        out += "\n"
                    out = out.encode("utf-8")
                summary = _summary_json(
                    result_rows=stats.get("result_rows", 0),
                    result_bytes=len(out),
                    written_rows=stats.get("written_rows", 0),
                    elapsed_ns=time.perf_counter_ns() - t0,
                )
                tz = outer.engine.spark.conf.get(
                    "spark.sql.session.timeZone", "Etc/UTC"
                )
                headers = {
                    "Content-Type": content_type(fmt),
                    "X-ClickHouse-Format": fmt,
                    "X-ClickHouse-Timezone": tz or "Etc/UTC",
                    "X-ClickHouse-Summary": summary,
                }
                if progress:
                    headers["X-ClickHouse-Progress"] = summary
                if gzip_ok:
                    out = gzip.compress(out)
                    headers["Content-Encoding"] = "gzip"
                return out, headers

            def _progress_event(self, t0: int) -> str:
                """One progress JSON in the CH header shape; task counts
                from the Spark status tracker stand in for row counters."""
                done = total = 0
                try:
                    tr = outer.engine.spark.sparkContext.statusTracker()
                    for jid in tr.getActiveJobsIds():
                        ji = tr.getJobInfo(jid)
                        for sid in ji.stageIds if ji else ():
                            si = tr.getStageInfo(sid)
                            if si:
                                done += si.numCompletedTasks
                                total += si.numTasks
                except Exception:  # noqa: BLE001 — progress is best-effort
                    pass
                return json.dumps(
                    {
                        "read_rows": str(done),
                        "read_bytes": "0",
                        "written_rows": "0",
                        "written_bytes": "0",
                        "total_rows_to_read": str(total),
                        "elapsed_ns": str(time.perf_counter_ns() - t0),
                    },
                    separators=(",", ":"),
                )

            def _stream_with_progress(
                self, execute, params, hdrs, t0, fmt, stats
            ) -> None:
                """Incremental X-ClickHouse-Progress: the status line and
                base headers flush immediately, one additional Progress
                header field flushes per interval while the query runs on a
                worker thread, and the final Progress + Summary + body
                close the response.  ≥2 progress events for any query (one
                in-flight minimum + the final cumulative one) — CH's
                chunked-progress contract.  An error after the 200 status
                line has streamed surfaces as the exception-code header +
                message body, exactly CH's mid-stream behavior."""
                interval = (
                    float(
                        params.get("http_headers_progress_interval_ms") or 100
                    )
                    / 1000.0
                )
                res: dict = {}

                def _work():
                    try:
                        res["out"] = execute()
                    except Exception as e:  # noqa: BLE001 — wire it below
                        res["err"] = e

                th = threading.Thread(target=_work, daemon=True)
                self.send_response(200)
                self.send_header(
                    "X-ClickHouse-Server-Display-Name", "spark"
                )
                for k, v in hdrs.items():
                    self.send_header(k, v)
                self.flush_headers()
                th.start()
                while True:
                    th.join(interval)
                    alive = th.is_alive()
                    self.send_header(
                        "X-ClickHouse-Progress", self._progress_event(t0)
                    )
                    self.flush_headers()
                    if not alive:
                        break
                if "err" in res:
                    self._finish(*_error(res["err"], {}))
                    return
                self._finish(
                    *self._success(res["out"], fmt, stats, t0, False, True)
                )

            def _handle(self, body: bytes) -> None:
                url = urlparse(self.path)
                if url.path in ("/ping", "/replicas_status"):
                    # /replicas_status is the LB health endpoint; no
                    # replication lag exists in the shared-storage
                    # architecture, so it is always Ok
                    self._reply(200, b"Ok.\n")
                    return
                params = {k: v[-1] for k, v in parse_qs(url.query).items()}
                query_id = params.get("query_id") or str(uuid.uuid4())
                hdrs = {"X-ClickHouse-Query-Id": query_id}
                if (self.headers.get("Content-Encoding") or "").lower() == "gzip":
                    try:
                        body = gzip.decompress(body)
                    except OSError:
                        self._reply(400, b"malformed gzip body\n", hdrs)
                        return
                query = params.get("query", "")
                session = outer._session(params.get("session_id"))
                settings = session or {}
                # readonly is sticky: "1" from EITHER the query param or the
                # session setting enforces it; an explicit readonly=0 param
                # cannot override a session-level readonly=1 (CH forbids
                # decreasing readonly once set).
                readonly = "1" in (params.get("readonly"), settings.get("readonly"))
                mi = _INSERT_FORMAT_RE.match(query)
                binary = bool(body and mi and canonical(mi.group(1)) in BINARY)
                if body and not binary:
                    # CH ingestion shape: statement in ?query=, data in body
                    text = body.decode("utf-8")
                    query = query.rstrip() + "\n" + text if query else text
                if not query.strip():
                    self._reply(400, b"no query\n", hdrs)
                    return
                if readonly and statement_writes(query):
                    self._reply(
                        500,
                        *_error(
                            "Cannot execute query in readonly mode",
                            hdrs,
                            _CODE_READONLY,
                        ),
                    )
                    return
                mset = parse_set(query)
                if mset:
                    name, value = mset
                    if readonly and name == "readonly" and value != "1":
                        # readonly can never be decreased once set
                        self._reply(
                            500,
                            *_error(
                                "Cannot modify 'readonly' setting in "
                                "readonly mode",
                                hdrs,
                                _CODE_READONLY,
                            ),
                        )
                        return
                    if session is not None:
                        # session-scoped SET: persists for this session_id
                        # only, does not leak into the shared engine
                        session[name] = value
                        self._reply(200, b"", hdrs)
                        return

                dialect = settings.get("dialect") or "clickhouse"
                default_format = params.get("default_format") or settings.get(
                    "default_format"
                )
                # the trailing FORMAT wins; it drives the Content-Type
                fmt = detect_trailing_format(query) or default_format or (
                    "TabSeparated"
                )
                want_gzip = (
                    "gzip" in (self.headers.get("Accept-Encoding") or "").lower()
                    and (
                        params.get("enable_http_compression")
                        or settings.get("enable_http_compression")
                    )
                    == "1"
                )
                progress = (
                    params.get("send_progress_in_http_headers")
                    or settings.get("send_progress_in_http_headers")
                ) == "1"
                stats: dict = {}
                t0 = time.perf_counter_ns()

                def _execute():
                    with outer._gate:
                        if binary:
                            outer.engine.insert_binary(query, body, stats=stats)
                            return b""
                        return outer.engine.run(
                            query,
                            dialect=dialect,
                            stats=stats,
                            default_format=default_format,
                        )

                if (
                    progress
                    and not want_gzip
                    and statement_head(query) != "INSERT"
                ):
                    # CH's incremental progress wire shape: repeated
                    # X-ClickHouse-Progress header FIELDS streamed while the
                    # query executes, then the final headers + body.  The
                    # query runs on a worker thread; each interval the
                    # handler flushes one more progress header (elapsed_ns
                    # real; read_rows/total_rows_to_read are the Spark
                    # status tracker's completed/total task counts — the
                    # per-row scan counters live in JVM task metrics the
                    # library deliberately doesn't reach into).  gzip and
                    # INSERTs are buffered with one final cumulative event
                    # (the compressed length must be known before headers
                    # close).
                    self._stream_with_progress(
                        _execute, params, hdrs, t0, fmt, stats
                    )
                    return
                try:
                    out = _execute()
                except Exception as e:  # noqa: BLE001 — wire errors like CH
                    self._reply(500, *_error(e, hdrs))
                    return
                data, headers = self._success(
                    out, fmt, stats, t0, want_gzip, progress
                )
                self._reply(200, data, {**hdrs, **headers})

            def do_GET(self):  # noqa: N802 — http.server contract
                self._handle(b"")

            def do_POST(self):  # noqa: N802
                n = int(self.headers.get("Content-Length") or 0)
                self._handle(self.rfile.read(n) if n else b"")

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._httpd.daemon_threads = True
        self.port = self._httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def _session(self, session_id: str | None) -> dict[str, str] | None:
        """The settings dict for ``session_id`` (created on first use), or
        None when the request carries no session."""
        if not session_id:
            return None
        with self._sessions_lock:
            return self._sessions.setdefault(session_id, {})

    def start(self) -> "ChHttpServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="ch-http", daemon=True
        )
        self._thread.start()
        return self

    def shutdown(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)


def serve(engine, host: str = "0.0.0.0", port: int = 8123) -> None:
    """Blocking entry point: ``python -m clickhouseocp_spark.server`` style
    foreground serving (mirrors `clickhouse-server` staying in the
    foreground in the reference image)."""
    ChHttpServer(engine, host=host, port=port).start()._thread.join()
