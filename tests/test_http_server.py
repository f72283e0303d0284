"""HTTP interface analog (port 8123 surface): the CH request shapes served
over the Spark engine — /ping, GET ?query=, POST body, FORMAT selection,
INSERT-with-body ingestion, error signaling."""

import json
import urllib.error
import urllib.parse
import urllib.request

import pytest

from clickhouseocp_spark.engine import ChSparkEngine
from clickhouseocp_spark.server import ChHttpServer


@pytest.fixture(scope="module")
def http_engine(spark, sf_dir):
    eng = ChSparkEngine(sf_dir, spark=spark)
    srv = ChHttpServer(eng, port=0).start()
    yield srv
    srv.shutdown()


def _get(srv, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}{path}") as r:
        return r.status, r.read().decode(), dict(r.headers)


def _post(srv, path, body):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}", data=body.encode(), method="POST"
    )
    with urllib.request.urlopen(req) as r:
        return r.status, r.read().decode(), dict(r.headers)


def test_ping(http_engine):
    status, body, _ = _get(http_engine, "/ping")
    assert (status, body) == (200, "Ok.\n")


def test_get_query_tsv_default(http_engine):
    q = urllib.parse.quote("SELECT count() AS n FROM region")
    status, body, headers = _get(http_engine, f"/?query={q}")
    assert status == 200
    assert body.strip() == "5"  # TabSeparated: bare value, CH's HTTP default
    assert headers["Content-Type"].startswith("text/plain")


def test_post_body_with_format_json(http_engine):
    status, body, headers = _post(
        http_engine,
        "/",
        "SELECT r_name FROM region ORDER BY r_regionkey LIMIT 2 FORMAT JSON",
    )
    assert status == 200
    assert headers["Content-Type"].startswith("application/json")
    doc = json.loads(body)
    assert [r["r_name"] for r in doc["data"]] == ["AFRICA", "AMERICA"]


def test_default_format_param(http_engine):
    q = urllib.parse.quote("SELECT 1 AS one")
    status, body, _ = _get(http_engine, f"/?query={q}&default_format=CSVWithNames")
    assert status == 200
    assert body.splitlines()[0].strip('"') == "one"


def test_insert_with_data_body_round_trip(http_engine):
    _post(http_engine, "/", "CREATE TABLE http_t (k Int64, v String) ENGINE = Memory")
    q = urllib.parse.quote("INSERT INTO http_t FORMAT CSV")
    status, _, _ = _post(http_engine, f"/?query={q}", "1,alpha\n2,beta")
    assert status == 200
    status, body, _ = _post(
        http_engine, "/", "SELECT v FROM http_t ORDER BY k FORMAT TabSeparated"
    )
    assert status == 200 and body.split() == ["alpha", "beta"]


def test_error_wire_shape(http_engine):
    """Errors carry the REAL CH exception code (round 6 — drivers branch on
    these): 47 unknown identifier, 60 unknown table, 62 syntax error."""
    cases = [
        ("SELECT definitely_not_a_column FROM region", "47"),
        ("SELECT * FROM definitely_not_a_table", "60"),
        ("SELECT count( FROM region WITH FILL GARBAGE !!", "62"),
    ]
    for sql, want in cases:
        q = urllib.parse.quote(sql)
        with pytest.raises(urllib.error.HTTPError) as exc:
            _get(http_engine, f"/?query={q}")
        assert exc.value.code == 500
        assert exc.value.headers["X-ClickHouse-Exception-Code"] == want, sql


def test_session_set_persistence_and_headers(http_engine):
    """?session_id scopes SET statements across requests (CH session
    semantics): default_format persists for the session and never leaks to
    session-less requests; successes carry X-ClickHouse-Format /
    X-ClickHouse-Query-Id / X-ClickHouse-Timezone."""
    sid = "wire-test-session"
    q = urllib.parse.quote("SET default_format = 'CSVWithNames'")
    status, body, _ = _get(http_engine, f"/?query={q}&session_id={sid}")
    assert (status, body) == (200, "")

    q = urllib.parse.quote("SELECT 1 AS one")
    status, body, headers = _get(
        http_engine, f"/?query={q}&session_id={sid}&query_id=qid-42"
    )
    assert status == 200
    assert body.splitlines()[0].strip('"') == "one"  # CSV header row applied
    assert headers["X-ClickHouse-Format"] == "CSVWithNames"
    assert headers["X-ClickHouse-Query-Id"] == "qid-42"
    assert headers["X-ClickHouse-Timezone"]

    # no session → setting did not leak; TabSeparated default, generated id
    status, body, headers = _get(http_engine, f"/?query={q}")
    assert body.strip() == "1"
    assert headers["X-ClickHouse-Format"] == "TabSeparated"
    assert headers["X-ClickHouse-Query-Id"]


def test_gzip_both_directions(http_engine):
    """CH's opt-in response compression rule (Accept-Encoding: gzip AND
    enable_http_compression=1) and transparent gzipped-request-body
    inflation."""
    import gzip as gz

    q = urllib.parse.quote("SELECT r_name FROM region ORDER BY r_regionkey")
    req = urllib.request.Request(
        f"http://127.0.0.1:{http_engine.port}/?query={q}&enable_http_compression=1",
        headers={"Accept-Encoding": "gzip"},
    )
    with urllib.request.urlopen(req) as r:
        assert r.headers["Content-Encoding"] == "gzip"
        names = gz.decompress(r.read()).decode().split()
    assert names[0] == "AFRICA"

    # without the setting, Accept-Encoding alone does NOT compress (CH rule)
    req = urllib.request.Request(
        f"http://127.0.0.1:{http_engine.port}/?query={q}",
        headers={"Accept-Encoding": "gzip"},
    )
    with urllib.request.urlopen(req) as r:
        assert r.headers.get("Content-Encoding") is None
        assert r.read().decode().split()[0] == "AFRICA"

    # gzipped POST body
    body = gz.compress(b"SELECT count() AS n FROM region")
    req = urllib.request.Request(
        f"http://127.0.0.1:{http_engine.port}/",
        data=body,
        method="POST",
        headers={"Content-Encoding": "gzip"},
    )
    with urllib.request.urlopen(req) as r:
        assert r.read().decode().strip() == "5"


def test_concurrent_queries(http_engine):
    """A13 shape: several in-flight queries interleave (ThreadingHTTPServer +
    semaphore gate), all land correctly."""
    import concurrent.futures as cf

    def one(i):
        q = urllib.parse.quote(f"SELECT count() + {i} AS n FROM nation")
        _, body, _ = _get(http_engine, f"/?query={q}")
        return int(body.strip())

    with cf.ThreadPoolExecutor(8) as ex:
        got = sorted(ex.map(one, range(8)))
    assert got == [25 + i for i in range(8)]


def _get_raw(srv, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}{path}") as r:
        return r.status, r.read(), dict(r.headers)


def test_rowbinary_roundtrip(spark):
    """render_rowbinary → parse_rowbinary round trip over every supported
    layout: Nullable flags, varint strings (incl. >127-byte lengths and
    unicode), arrays, date/datetime, bool, floats."""
    import datetime as dt

    from clickhouseocp_spark.formats import parse_rowbinary, render_rowbinary

    df = spark.createDataFrame(
        [
            (1, 2.5, "hello", True, dt.date(2024, 2, 29),
             dt.datetime(2024, 1, 2, 3, 4, 5), [1, 2, 3], "x" * 300),
            (None, None, None, None, None, None, None, None),
        ],
        "i bigint, f double, s string, b boolean, d date, ts timestamp, "
        "a array<bigint>, big string",
    )
    blob = render_rowbinary(df, with_names_and_types=True)
    names, types, rows = parse_rowbinary(blob)
    assert names == ["i", "f", "s", "b", "d", "ts", "a", "big"]
    assert types[0] == "Nullable(Int64)" and types[6] == "Array(Nullable(Int64))"
    assert rows[0][:4] == (1, 2.5, "hello", True)
    assert rows[0][4] == dt.date(2024, 2, 29)
    assert rows[0][5] == dt.datetime(2024, 1, 2, 3, 4, 5)
    assert rows[0][6] == [1, 2, 3] and rows[0][7] == "x" * 300
    # CH has no Nullable(Array): a NULL array column encodes as empty
    assert rows[1] == (None, None, None, None, None, None, [], None)
    # plain RowBinary (no header) with explicit types decodes identically
    blob2 = render_rowbinary(df, with_names_and_types=False)
    assert parse_rowbinary(blob2, types)[0][:3] == rows[0][:3]


def test_http_rowbinary_wire(http_engine):
    """FORMAT RowBinaryWithNamesAndTypes over HTTP: octet-stream content
    type, decodable payload, values matching the text path."""
    from clickhouseocp_spark.formats import parse_rowbinary

    q = urllib.parse.quote(
        "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey "
        "FORMAT RowBinaryWithNamesAndTypes"
    )
    status, raw, headers = _get_raw(http_engine, f"/?query={q}")
    assert status == 200
    assert headers["Content-Type"] == "application/octet-stream"
    assert headers["X-ClickHouse-Format"] == "RowBinaryWithNamesAndTypes"
    names, types, rows = parse_rowbinary(raw)
    assert names == ["r_regionkey", "r_name"]
    assert rows[0][1] == "AFRICA" and len(rows) == 5


def test_http_rowbinary_insert(spark, sf_dir):
    """Bulk-ingest shape: INSERT ... FORMAT RowBinary with a binary body —
    rows land in the table; body is never text-decoded."""
    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.formats import render_rowbinary
    from clickhouseocp_spark.server import ChHttpServer

    eng = ChSparkEngine(sf_dir, spark=spark)
    # binary body matching the region schema (r_regionkey INT, r_name STRING)
    payload_df = spark.createDataFrame(
        [(91, "NEWLAND")],
        "r_regionkey int, r_name string",
    )
    body = render_rowbinary(payload_df)
    srv = ChHttpServer(eng, port=0).start()
    try:
        q = urllib.parse.quote("INSERT INTO region FORMAT RowBinary")
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/?query={q}", data=body, method="POST"
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
        n = eng.sql("SELECT count() AS n FROM region WHERE r_regionkey = 91")
        assert n.first().n == 1
    finally:
        srv.shutdown()


def test_summary_header_shape(http_engine):
    """X-ClickHouse-Summary rides every successful query response: the CH
    JSON shape with STRING-valued numeric fields in the canonical key
    order, result_rows/result_bytes reflecting the rendered result."""
    q = urllib.parse.quote(
        "SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 7"
    )
    status, body, headers = _get(http_engine, f"/?query={q}")
    assert status == 200
    s = json.loads(headers["X-ClickHouse-Summary"])
    assert list(s) == [
        "read_rows", "read_bytes", "written_rows", "written_bytes",
        "total_rows_to_read", "result_rows", "result_bytes", "elapsed_ns",
    ]
    assert all(isinstance(v, str) and v.isdigit() for v in s.values())
    assert s["result_rows"] == "7"
    assert int(s["result_bytes"]) == len(body.encode())
    assert int(s["elapsed_ns"]) > 0
    # progress headers are opt-in (CH: send_progress_in_http_headers=1)
    assert "X-ClickHouse-Progress" not in headers


def test_progress_header_opt_in(http_engine):
    """send_progress_in_http_headers=1 (param or session setting) streams
    progress events; the FINAL cumulative one equals the Summary (round 8:
    incremental streaming replaced the single buffered event, so dict()'s
    first-occurrence view shows an in-flight event — read them all)."""
    import urllib.request as _rq

    q = urllib.parse.quote("SELECT count() AS n FROM nation")
    with _rq.urlopen(
        f"http://127.0.0.1:{http_engine.port}/?query={q}"
        "&send_progress_in_http_headers=1"
    ) as r:
        events = r.headers.get_all("X-ClickHouse-Progress")
        summary = r.headers["X-ClickHouse-Summary"]
    assert len(events) >= 2
    p = json.loads(events[-1])
    assert p == json.loads(summary)
    assert p["result_rows"] == "1"
    # session-scoped form
    sid = "sumsess"
    _get(http_engine, f"/?session_id={sid}&query=" + urllib.parse.quote(
        "SET send_progress_in_http_headers = 1"
    ))
    _, _, h2 = _get(http_engine, f"/?session_id={sid}&query={q}")
    assert "X-ClickHouse-Progress" in h2


def test_summary_written_rows_on_rowbinary_insert(spark, sf_dir):
    """The RowBinary bulk-ingest path reports written_rows in the Summary."""
    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.formats import render_rowbinary
    from clickhouseocp_spark.server import ChHttpServer

    eng = ChSparkEngine(sf_dir, spark=spark)
    payload_df = spark.createDataFrame(
        [(95, "SUMLAND"), (96, "PROGLAND")],
        "r_regionkey int, r_name string",
    )
    body = render_rowbinary(payload_df)
    srv = ChHttpServer(eng, port=0).start()
    try:
        q = urllib.parse.quote("INSERT INTO region FORMAT RowBinary")
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/?query={q}"
            "&send_progress_in_http_headers=1",
            data=body,
            method="POST",
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
            s = json.loads(r.headers["X-ClickHouse-Summary"])
            assert s["written_rows"] == "2"
            assert s["result_rows"] == "0"
            assert "X-ClickHouse-Progress" in r.headers
    finally:
        srv.shutdown()


def test_native_format_roundtrip(spark):
    """FORMAT Native: column-major block round trip incl. Nullable masks
    and Array offsets, plus a pinned byte-level header."""
    from clickhouseocp_spark.formats import parse_native, render_native

    df = spark.createDataFrame(
        [(1, "a", [1.5, 2.5], None), (2, None, [], 3)],
        "k int, s string, arr array<double>, n int",
    ).orderBy("k")
    b = render_native(df)
    # header: 4 columns, 2 rows, first column name 'k' with its type
    assert b[0] == 4 and b[1] == 2
    assert b[2] == 1 and b[3:4] == b"k"
    names, types, rows = parse_native(b)
    assert names == ["k", "s", "arr", "n"]
    assert types[0] == "Nullable(Int32)"
    assert types[2] == "Array(Nullable(Float64))"
    assert rows == [(1, "a", [1.5, 2.5], None), (2, None, [], 3)]


def test_http_native_wire(spark, sf_dir):
    """SELECT ... FORMAT Native over HTTP: octet-stream body that decodes
    back to the query result; INSERT ... FORMAT Native ingests a binary
    block and reports written_rows."""
    import json as _json

    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.formats import parse_native, render_native
    from clickhouseocp_spark.server import ChHttpServer

    eng = ChSparkEngine(sf_dir, spark=spark)
    srv = ChHttpServer(eng, port=0).start()
    try:
        q = urllib.parse.quote(
            "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey "
            "LIMIT 3 FORMAT Native"
        )
        with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/?query={q}") as r:
            assert r.headers["Content-Type"] == "application/octet-stream"
            names, _types, rows = parse_native(r.read())
            s = _json.loads(r.headers["X-ClickHouse-Summary"])
            assert s["result_rows"] == "3"
        assert names == ["r_regionkey", "r_name"] and len(rows) == 3
        assert rows[0][1] == "AFRICA"

        payload = render_native(
            spark.createDataFrame([(93, "NATLAND")], "r_regionkey int, r_name string")
        )
        iq = urllib.parse.quote("INSERT INTO region FORMAT Native")
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/?query={iq}", data=payload, method="POST"
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
            s = _json.loads(r.headers["X-ClickHouse-Summary"])
            assert s["written_rows"] == "1"
        n = eng.sql("SELECT count() AS n FROM region WHERE r_regionkey = 93")
        assert n.first().n == 1
    finally:
        srv.shutdown()


def test_replicas_status(http_engine):
    status, body, _ = _get(http_engine, "/replicas_status")
    assert (status, body) == (200, "Ok.\n")


def test_readonly_mode(http_engine, tmp_path):
    """readonly=1 (param or session setting) rejects every statement that
    writes — mutations/DDL, BACKUP, RESTORE, SYSTEM REFRESH VIEW — with CH's
    code 164, while reads, CHECK TABLE, SYSTEM FLUSH LOGS and KILL keep
    working."""
    region_backup = tmp_path / "region_backup"
    http_engine.engine.execute(f"BACKUP TABLE region TO File('{region_backup}')")
    new_backup = tmp_path / "nation_backup"
    for stmt, body in (
        ("INSERT INTO region FORMAT CSV", b"99,X"),
        (f"RESTORE TABLE nation FROM File('{region_backup}')", b""),
        (f"BACKUP TABLE nation TO File('{new_backup}')", b""),
        ("SYSTEM REFRESH VIEW nation", b""),
    ):
        q = urllib.parse.quote(stmt)
        req = urllib.request.Request(
            f"http://127.0.0.1:{http_engine.port}/?query={q}&readonly=1",
            data=body, method="POST",
        )
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(req)
        assert exc.value.code == 500, stmt
        assert exc.value.headers["X-ClickHouse-Exception-Code"] == "164", stmt
    assert not new_backup.exists()
    # reads and the non-writing ops statements still fine under readonly;
    # the refused RESTORE left nation as it was
    for stmt, expect in (
        ("SELECT count() AS n FROM nation", "25"),
        ("CHECK TABLE region", None),
        ("SYSTEM FLUSH LOGS", None),
        ("KILL QUERY WHERE query_id = 'none'", None),
    ):
        rq = urllib.parse.quote(stmt)
        status, body, _ = _get(http_engine, f"/?query={rq}&readonly=1")
        assert status == 200, stmt
        assert expect is None or body.strip() == expect, stmt


def test_readonly_blocks_binary_ingest(http_engine, spark):
    """readonly=1 must refuse the binary bulk-ingest paths (RowBinary /
    Native / Arrow POST bodies) with code 164 BEFORE dispatch — they are
    mutations even though their dispatch precedes the text-path gate."""
    from clickhouseocp_spark.formats import render_native, render_rowbinary

    payload_df = spark.createDataFrame(
        [(92, "NOLAND")], "r_regionkey int, r_name string"
    )
    for fmt, body in (
        ("RowBinary", render_rowbinary(payload_df)),
        ("Native", render_native(payload_df)),
    ):
        q = urllib.parse.quote(f"INSERT INTO region FORMAT {fmt}")
        req = urllib.request.Request(
            f"http://127.0.0.1:{http_engine.port}/?query={q}&readonly=1",
            data=body,
            method="POST",
        )
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(req)
        assert exc.value.code == 500, fmt
        assert exc.value.headers["X-ClickHouse-Exception-Code"] == "164", fmt
    # nothing landed
    n = _get(
        http_engine,
        "/?query="
        + urllib.parse.quote(
            "SELECT count() AS n FROM region WHERE r_regionkey = 92"
        ),
    )[1]
    assert n.strip() == "0"


def test_readonly_is_sticky(http_engine):
    """A session-level readonly=1 cannot be lowered: an explicit
    readonly=0 query param does not override it, and `SET readonly=0`
    inside the session is refused with code 164 (CH forbids decreasing
    readonly once set)."""
    sid = "readonly-sticky-session"
    q = urllib.parse.quote("SET readonly = '1'")
    status, _, _ = _get(http_engine, f"/?query={q}&session_id={sid}")
    assert status == 200

    # param readonly=0 does not override the session setting
    ins = urllib.parse.quote("INSERT INTO region FORMAT CSV")
    req = urllib.request.Request(
        f"http://127.0.0.1:{http_engine.port}/?query={ins}"
        f"&session_id={sid}&readonly=0",
        data=b"99,X",
        method="POST",
    )
    with pytest.raises(urllib.error.HTTPError) as exc:
        urllib.request.urlopen(req)
    assert exc.value.code == 500
    assert exc.value.headers["X-ClickHouse-Exception-Code"] == "164"

    # SET readonly=0 refused while the session is readonly
    low = urllib.parse.quote("SET readonly = '0'")
    with pytest.raises(urllib.error.HTTPError) as exc:
        urllib.request.urlopen(
            f"http://127.0.0.1:{http_engine.port}/?query={low}"
            f"&session_id={sid}"
        )
    assert exc.value.code == 500
    assert exc.value.headers["X-ClickHouse-Exception-Code"] == "164"

    # reads keep working in the readonly session
    rq = urllib.parse.quote("SELECT count() AS n FROM nation")
    status, body, _ = _get(http_engine, f"/?query={rq}&session_id={sid}")
    assert status == 200 and body.strip() == "25"


def test_arrow_format_wire(spark, sf_dir):
    """FORMAT Arrow / ArrowStream: IPC bytes over HTTP both directions
    (render via Spark's own Arrow conversion; INSERT ingest with name
    validation and written_rows in the Summary)."""
    import json as _json

    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.formats import parse_arrow, render_arrow
    from clickhouseocp_spark.server import ChHttpServer

    eng = ChSparkEngine(sf_dir, spark=spark)
    srv = ChHttpServer(eng, port=0).start()
    try:
        for fmt in ("Arrow", "ArrowStream"):
            q = urllib.parse.quote(
                "SELECT r_regionkey, r_name FROM region "
                f"ORDER BY r_regionkey LIMIT 2 FORMAT {fmt}"
            )
            with urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/?query={q}"
            ) as r:
                assert r.headers["Content-Type"] == "application/octet-stream"
                names, rows = parse_arrow(r.read())
            assert names == ["r_regionkey", "r_name"]
            assert rows[0] == (0, "AFRICA")

        payload = render_arrow(
            spark.createDataFrame([(97, "ARROWLAND")],
                                  "r_regionkey int, r_name string")
        )
        iq = urllib.parse.quote("INSERT INTO region FORMAT Arrow")
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/?query={iq}", data=payload,
            method="POST",
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
            s = _json.loads(r.headers["X-ClickHouse-Summary"])
            assert s["written_rows"] == "1"
        n = eng.sql("SELECT count() AS n FROM region WHERE r_regionkey = 97")
        assert n.first().n == 1
    finally:
        srv.shutdown()


def test_binary_ingest_error_paths(spark, sf_dir):
    """Native/Arrow ingest must refuse unknown column names with a
    ChSqlError (code 62 on the wire) instead of mis-decoding."""
    import pytest as _pytest

    from clickhouseocp_spark.chsql import ChSqlError
    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.formats import render_arrow, render_native

    eng = ChSparkEngine(sf_dir, spark=spark)
    bad = spark.createDataFrame([(1, "x")], "nope int, r_name string")
    with _pytest.raises(ChSqlError, match="not in table"):
        eng.insert_binary("INSERT INTO region FORMAT Native",
                          render_native(bad))
    with _pytest.raises(ChSqlError, match="not in table"):
        eng.insert_binary("INSERT INTO region FORMAT Arrow",
                         render_arrow(bad))
    with _pytest.raises(ChSqlError, match="not an INSERT"):
        eng.insert_binary("SELECT 1", b"")


def test_rowbinary_ingest_error_path(spark, sf_dir):
    """insert_binary's malformed-statement path raises the wire-mapped
    ChSqlError (was a NameError — same latent bug class as Native/Arrow)."""
    import pytest as _pytest

    from clickhouseocp_spark.chsql import ChSqlError
    from clickhouseocp_spark.engine import ChSparkEngine

    eng = ChSparkEngine(sf_dir, spark=spark)
    with _pytest.raises(ChSqlError, match="not an INSERT"):
        eng.insert_binary("SELECT 1", b"")


def test_native_multiblock_parse(spark):
    """parse_native concatenates multiple blocks (CH writes one block per
    squash window) and refuses blocks with mismatched column names."""
    import pytest as _pytest

    from clickhouseocp_spark.formats import parse_native, render_native

    a = render_native(spark.createDataFrame([(1, "a")], "k int, s string"))
    b = render_native(spark.createDataFrame([(2, "b"), (3, "c")],
                                            "k int, s string"))
    names, types, rows = parse_native(a + b)
    assert names == ["k", "s"] and len(rows) == 3
    assert rows[2] == (3, "c")
    other = render_native(spark.createDataFrame([(9,)], "z int"))
    with _pytest.raises(ValueError, match="differ across blocks"):
        parse_native(a + other)


def test_progress_streams_incrementally(http_engine):
    """send_progress_in_http_headers=1 streams REPEATED
    X-ClickHouse-Progress header fields (>= 2: in-flight events plus the
    final cumulative one) with monotonically increasing elapsed_ns."""
    import http.client
    import json as _json

    conn = http.client.HTTPConnection("127.0.0.1", http_engine.port)
    q = urllib.parse.quote(
        "SELECT count() AS n FROM lineitem l1 JOIN lineitem l2 "
        "ON l1.l_orderkey = l2.l_orderkey"
    )
    conn.request(
        "GET",
        f"/?query={q}&send_progress_in_http_headers=1"
        "&http_headers_progress_interval_ms=50",
    )
    r = conn.getresponse()
    body = r.read()
    events = r.headers.get_all("X-ClickHouse-Progress")
    assert r.status == 200 and body.strip().isdigit()
    assert len(events) >= 2, events
    elapsed = [int(_json.loads(e)["elapsed_ns"]) for e in events]
    assert elapsed == sorted(elapsed) and elapsed[-1] > elapsed[0]
    # the final event equals the Summary (cumulative convergence)
    assert events[-1] == r.headers["X-ClickHouse-Summary"]
    conn.close()


def test_progress_stream_error_after_headers(http_engine):
    """A mid-stream failure still carries the CH exception code header
    (the 200 status line has already been flushed — CH's documented
    mid-stream behavior)."""
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", http_engine.port)
    q = urllib.parse.quote("SELECT * FROM no_such_table_xyz")
    conn.request(
        "GET", f"/?query={q}&send_progress_in_http_headers=1"
    )
    r = conn.getresponse()
    body = r.read().decode()
    assert r.headers["X-ClickHouse-Exception-Code"] == "60"
    assert "no_such_table_xyz" in body
    conn.close()


def test_recursive_cte_over_http(http_engine):
    """WITH RECURSIVE runs through the HTTP surface (transpiler passes the
    RECURSIVE CTE item through; Spark 4 UnionLoop executes it)."""
    q = urllib.parse.quote(
        "WITH RECURSIVE t AS (SELECT 1 AS n UNION ALL "
        "SELECT n + 1 AS n FROM t WHERE n < 10) "
        "SELECT sum(n) AS s FROM t"
    )
    status, body, _ = _get(http_engine, f"/?query={q}")
    assert status == 200 and body.strip() == "55"


def test_parquet_format_wire(spark, sf_dir):
    """FORMAT Parquet (round 8): a parquet file over HTTP both directions —
    the bulk format pandas/polars/duckdb clients speak natively; ingest
    validates names and reports written_rows; readonly=1 refuses it like
    the other binary mutations (code 164)."""
    import json as _json

    import pytest as _pytest

    from clickhouseocp_spark.chsql import ChSqlError
    from clickhouseocp_spark.engine import ChSparkEngine
    from clickhouseocp_spark.formats import parse_parquet, render_parquet
    from clickhouseocp_spark.server import ChHttpServer

    eng = ChSparkEngine(sf_dir, spark=spark)
    srv = ChHttpServer(eng, port=0).start()
    try:
        q = urllib.parse.quote(
            "SELECT r_regionkey, r_name FROM region "
            "ORDER BY r_regionkey LIMIT 2 FORMAT Parquet"
        )
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/?query={q}"
        ) as r:
            names, rows = parse_parquet(r.read())
        assert names == ["r_regionkey", "r_name"]
        assert rows[0] == (0, "AFRICA")

        payload = render_parquet(
            spark.createDataFrame(
                [(98, "PARQUETIA")], "r_regionkey int, r_name string"
            )
        )
        iq = urllib.parse.quote("INSERT INTO region FORMAT Parquet")
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/?query={iq}", data=payload,
            method="POST",
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
            s = _json.loads(r.headers["X-ClickHouse-Summary"])
            assert s["written_rows"] == "1"
        n = eng.sql("SELECT count() AS n FROM region WHERE r_regionkey = 98")
        assert n.first().n == 1
        # readonly gate covers the parquet ingest branch too
        req_ro = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/?query={iq}&readonly=1",
            data=payload, method="POST",
        )
        try:
            urllib.request.urlopen(req_ro)
            raise AssertionError("readonly parquet ingest must refuse")
        except urllib.error.HTTPError as e:
            assert e.headers["X-ClickHouse-Exception-Code"] == "164"
        # unknown column names refuse before decode side effects
        bad = render_parquet(
            spark.createDataFrame([(1, "x")], "nope int, r_name string")
        )
        with _pytest.raises(ChSqlError, match="not in table"):
            eng.insert_binary("INSERT INTO region FORMAT Parquet", bad)
    finally:
        srv.shutdown()


def test_explain_over_http(http_engine):
    """EXPLAIN AST/SYNTAX/PLAN/PIPELINE served over the HTTP surface
    (analysis-only, like DESCRIBE): SYNTAX returns the transpiled Spark
    SQL, PIPELINE the formatted physical plan, AST the token tree —
    one plan line per TSV row, the CH wire shape."""
    q = urllib.parse.quote(
        "EXPLAIN SYNTAX SELECT toInt64(r_regionkey) AS k FROM region"
    )
    status, body, _ = _get(http_engine, f"/?query={q}")
    assert status == 200
    assert "CAST(" in body and "region" in body
    q = urllib.parse.quote(
        "EXPLAIN PIPELINE SELECT count() AS n FROM region"
    )
    status, body, _ = _get(http_engine, f"/?query={q}")
    assert status == 200
    assert "HashAggregate" in body or "Physical Plan" in body
    q = urllib.parse.quote("EXPLAIN AST SELECT count() FROM region")
    status, body, _ = _get(http_engine, f"/?query={q}")
    assert status == 200
    assert "SELECT" in body.upper() and "count" in body
    q = urllib.parse.quote(
        "EXPLAIN PLAN SELECT r_name FROM region WHERE r_regionkey = 1"
    )
    status, body, _ = _get(http_engine, f"/?query={q}")
    assert status == 200
    assert "Filter" in body or "Relation" in body


@pytest.mark.parametrize(
    "fmt, statement, key",
    [
        ("RowBinary", "INSERT INTO region (r_regionkey) FORMAT RowBinary", 81),
        ("Native", "INSERT INTO region FORMAT Native", 82),
        ("Arrow", "INSERT INTO region FORMAT Arrow", 83),
        ("Parquet", "INSERT INTO region FORMAT Parquet", 84),
    ],
)
def test_binary_ingest_column_subset(spark, sf_dir, fmt, statement, key):
    """A binary INSERT of a column subset succeeds over HTTP, reports
    written_rows, and the row lands with the absent column NULL."""
    from clickhouseocp_spark.formats import render

    eng = ChSparkEngine(sf_dir, spark=spark)
    body = render(spark.createDataFrame([(key,)], "r_regionkey int"), fmt)
    srv = ChHttpServer(eng, port=0).start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/?query={urllib.parse.quote(statement)}",
            data=body,
            method="POST",
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
            s = json.loads(r.headers["X-ClickHouse-Summary"])
            assert s["written_rows"] == "1"
        got = eng.sql(f"SELECT r_name FROM region WHERE r_regionkey = {key}")
        assert [row.r_name for row in got.collect()] == [None]
    finally:
        srv.shutdown()


@pytest.mark.parametrize(
    "dialect, query",
    [
        ("kusto", "region | where r_regionkey < 3 "
                  "| project r_regionkey, r_name | order by r_regionkey asc"),
        ("prql", "from region | filter r_regionkey < 3 "
                 "| select {r_regionkey, r_name} | sort r_regionkey"),
    ],
)
def test_dialect_session_default_format(http_engine, dialect, query):
    """A KQL or PRQL session renders a text default_format (JSON, CSV) with
    the same rows as its TabSeparated answer."""
    import csv
    import io

    sid = f"default-format-{dialect}"
    _get(http_engine, f"/?session_id={sid}&query="
         + urllib.parse.quote(f"SET dialect = '{dialect}'"))
    path = f"/?session_id={sid}&query={urllib.parse.quote(query)}"
    status, tsv, _ = _get(http_engine, path)
    want = [line.split("\t") for line in tsv.splitlines()]
    assert status == 200 and len(want) == 3 and want[0][1] == "AFRICA"

    status, body, headers = _get(http_engine, path + "&default_format=JSON")
    assert status == 200 and headers["X-ClickHouse-Format"] == "JSON"
    got = [[str(v) for v in r.values()] for r in json.loads(body)["data"]]
    assert got == want

    status, body, headers = _get(http_engine, path + "&default_format=CSV")
    assert status == 200 and headers["Content-Type"].startswith("text/csv")
    assert list(csv.reader(io.StringIO(body))) == want


def _local_naive(v):
    """Aware datetimes (Arrow/Parquet) as the naive local time Spark
    collects; every other value unchanged."""
    import datetime as dt

    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone().replace(tzinfo=None)
    return v


def _binary_names():
    from clickhouseocp_spark.formats import BINARY

    return sorted(BINARY)


@pytest.mark.parametrize("name", _binary_names())
def test_binary_format_table(spark, http_engine, name):
    """Every formats.BINARY entry round-trips a mixed-type frame through
    render and its own parse (plain RowBinary with explicit types), is
    served as application/octet-stream, and engine.run() returns the HTTP
    body byte for byte — a format added to the table is tested here."""
    import datetime as dt

    from clickhouseocp_spark.formats import (
        BINARY,
        _rb_spark_to_ch,
        content_type,
        parse_rowbinary,
        render,
    )

    want = [
        (1, "a", [1, 2], dt.date(2024, 2, 29), dt.datetime(2024, 1, 2, 3, 4, 5)),
        (2, None, [], dt.date(1970, 1, 2), dt.datetime(1999, 12, 31, 23, 59, 59)),
    ]
    df = spark.createDataFrame(
        want, "i int, s string, a array<bigint>, d date, ts timestamp"
    )
    blob = render(df, name)
    assert isinstance(blob, bytes)
    parse = BINARY[name][1]
    if parse is None:
        names = df.columns
        rows = parse_rowbinary(blob, [
            _rb_spark_to_ch(f.dataType.simpleString(), f.nullable)
            for f in df.schema.fields
        ])
    else:
        names, rows = parse(blob)
    assert names == df.columns
    assert [tuple(_local_naive(v) for v in r) for r in rows] == want
    assert content_type(name) == "application/octet-stream"

    q = (
        "SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 3 "
        f"ORDER BY r_regionkey FORMAT {name}"
    )
    status, raw, headers = _get_raw(http_engine, "/?query=" + urllib.parse.quote(q))
    assert status == 200
    assert headers["Content-Type"] == "application/octet-stream"
    assert headers["X-ClickHouse-Format"] == name
    assert http_engine.engine.run(q) == raw
