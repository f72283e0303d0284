"""``http_read``: short read statements against ``python -m
clickhouseocp_spark --serve`` running in its own process.  A closed loop
from this one generator process: each of 4 connections sends its next
request when the previous reply has arrived.  Statements come from 10
templates: CH SQL in five output formats, plus KQL and PRQL through a
``session_id`` with ``SET dialect``.
"""

from __future__ import annotations

import datetime as dt
import http.client
import os
import random
import signal
import struct
import subprocess
import sys
import threading
import time
import urllib.parse
import zlib

import common
import wire
from statistics import geometric_mean, median

from common import Tracer, p95

READ_CONNECTIONS = min(4, common.CPUS)
POOL_PER_TEMPLATE = 30
ZIPF_S = 1.1
#: untimed closed-loop traffic before the window, so the server's JIT and
#: caches settle; part of setup_s
WARMUP_S = 5.0

_FORMATS = ("TabSeparated", "JSONEachRow", "JSON", "CSV", "RowBinaryWithNamesAndTypes")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


# ---------------------------------------------------------------- templates
# Each maker returns (dialect, statement, DuckDB oracle SQL) for one draw.


def _point(r):
    k = r.randrange(150_000)
    q = f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = {k}"
    return "clickhouse", q, q


def _date_range(r):
    d0 = dt.date(1995, 1, 2) + dt.timedelta(days=r.randrange(2400))
    d1 = d0 + dt.timedelta(days=r.choice((7, 14, 30, 45)))
    where = "WHERE l_shipdate >= {a} AND l_shipdate < {b}"
    ch = where.format(a=f"toDate('{d0}')", b=f"toDate('{d1}')")
    duck = where.format(a=f"DATE '{d0}'", b=f"DATE '{d1}'")
    return (
        "clickhouse",
        f"SELECT count() AS n, sum(l_quantity) AS q FROM lineitem {ch}",
        f"SELECT count(*) AS n, sum(l_quantity) AS q FROM lineitem {duck}",
    )


def _uniq(r):
    v = r.randrange(5, 200)
    tail = f"FROM events WHERE value > {v} GROUP BY event_type ORDER BY event_type"
    return (
        "clickhouse",
        f"SELECT event_type, uniqExact(user_id) AS u {tail}",
        f"SELECT event_type, count(DISTINCT user_id) AS u {tail}",
    )


def _month(r):
    m = r.randrange(50, 200)
    k = r.randrange(m)
    where = f"FROM orders WHERE o_custkey % {m} = {k} GROUP BY ym ORDER BY ym"
    return (
        "clickhouse",
        f"SELECT toYYYYMM(o_orderdate) AS ym, count() AS n {where}",
        "SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) "
        f"AS ym, count(*) AS n {where}",
    )


def _limit_by(r):
    p = r.randrange(200, 2000)
    cols = "l_returnflag, l_orderkey, l_linenumber, l_extendedprice"
    order = "l_returnflag, l_extendedprice DESC, l_orderkey, l_linenumber"
    return (
        "clickhouse",
        f"SELECT {cols} FROM lineitem WHERE l_partkey < {p} ORDER BY {order} "
        "LIMIT 2 BY l_returnflag",
        f"SELECT {cols} FROM (SELECT *, row_number() OVER (PARTITION BY "
        "l_returnflag ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) "
        f"AS rn FROM lineitem WHERE l_partkey < {p}) WHERE rn <= 2 ORDER BY {order}",
    )


def _join(r):
    k = r.randrange(1000, 20_000)
    q = (
        "SELECT c_mktsegment, count() AS n FROM orders INNER JOIN customer "
        f"ON o_custkey = c_custkey WHERE o_orderkey < {k} "
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"
    )
    return "clickhouse", q, q.replace("count()", "count(*)")


def _kql(r):
    u = r.randrange(1500)
    return (
        "kusto",
        f"events | where user_id == {u} | summarize n = count() by event_type "
        "| order by event_type asc",
        f"SELECT event_type, count(*) AS n FROM events WHERE user_id = {u} "
        "GROUP BY event_type ORDER BY event_type",
    )


def _prql(r):
    c = r.randrange(15_000)
    return (
        "prql",
        f"from orders | filter o_custkey == {c} | "
        "aggregate {n = count this, s = sum o_totalprice}",
        f"SELECT count(*) AS n, sum(o_totalprice) AS s FROM orders WHERE o_custkey = {c}",
    )


def _top_users(r):
    t, v = r.choice(_EVENT_TYPES), r.randrange(100)
    q = (
        f"SELECT user_id, count() AS n FROM events WHERE event_type = '{t}' "
        f"AND value > {v} GROUP BY user_id ORDER BY n DESC, user_id LIMIT 5"
    )
    return "clickhouse", q, q.replace("count()", "count(*)")


def _brands(r):
    s = r.randrange(1, 51)
    q = (
        "SELECT p_brand, count() AS n, min(p_retailprice) AS lo FROM part "
        f"WHERE p_size = {s} GROUP BY p_brand ORDER BY p_brand LIMIT 3"
    )
    return "clickhouse", q, q.replace("count()", "count(*)")


TEMPLATES = {
    "point": _point,
    "date_range": _date_range,
    "uniq_group": _uniq,
    "month_rollup": _month,
    "limit_by": _limit_by,
    "small_join": _join,
    "kql_summarize": _kql,
    "prql_aggregate": _prql,
    "top_users": _top_users,
    "brand_min": _brands,
}


def read_pool(seed: int) -> dict[str, list[dict]]:
    """POOL_PER_TEMPLATE seeded statements per template; CH statements get
    a seeded output format.  List position is the Zipf rank."""
    r = random.Random(f"pool-{seed}")
    pool = {}
    for name, make in TEMPLATES.items():
        items = []
        for _ in range(POOL_PER_TEMPLATE):
            dialect, text, oracle = make(r)
            fmt = r.choice(_FORMATS) if dialect == "clickhouse" else "TabSeparated"
            if dialect == "clickhouse":
                text = f"{text} FORMAT {fmt}"
            items.append({"template": name, "dialect": dialect, "text": text,
                          "oracle": oracle, "format": fmt})
        pool[name] = items
    return pool


# ---------------------------------------------------------------- server


class Server:
    """The program's HTTP server in its own process group."""

    def __init__(self, data_dir: str):
        self.port, self.ui_port = common.free_port(), common.free_port()
        env = common.spark_env(self.ui_port)
        self.log = open(os.path.join(common.WORK, "server.log"), "ab")
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "clickhouseocp_spark", "--serve", "--host",
             "127.0.0.1", "--port", str(self.port), "--sf-dir", data_dir],
            cwd=common.ROOT, env=env, stdout=self.log, stderr=self.log,
            start_new_session=True,
        )
        self.ui = f"http://127.0.0.1:{self.ui_port}"

    def wait_ready(self, timeout: float = 150.0) -> None:
        end = time.time() + timeout
        while time.time() < end:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with {self.proc.returncode}")
            try:
                status, body = request(self.port, "GET", "/ping")
                if status == 200 and body == b"Ok.\n":
                    return
            except OSError:
                pass
            time.sleep(0.1)
        raise RuntimeError("server did not answer /ping in time")

    def stop(self) -> None:
        """Kill the whole process group (server, JVM, Python workers) and
        wait until none of it is left."""
        pids = common.tree(self.proc.pid)
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        for p in pids:
            while (st := common._stat(p)) and st[0] != "Z":
                time.sleep(0.05)
        self.log.close()


def request(port: int, method: str, path: str, body: bytes | None = None):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request(method, path, body=body)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def _path(**params) -> str:
    return "/?" + urllib.parse.urlencode(params) if params else "/"


def _window_spark(ui: str) -> tuple[str | None, int]:
    """(app id, last stage id) of the server's Spark UI."""
    app = common.app_id(ui)
    if app is None:
        return None, -1
    stages = common.rest(ui, f"/applications/{app}/stages")
    return app, max((s["stageId"] for s in stages), default=-1)


def _server_spark_layers(ui: str, before, n_ops: int) -> dict[str, float]:
    """Per-request Spark counts of the server over the measured window."""
    app, last_stage = before
    if app is None or not n_ops:
        return {}
    time.sleep(0.5)
    stages = common.rest(ui, f"/applications/{app}/stages?status=complete")
    ids = {s["stageId"] for s in stages if s["stageId"] > last_stage}
    st = common.stage_totals(ui, app, ids)
    jobs = [
        j for j in common.rest(ui, f"/applications/{app}/jobs")
        if set(j.get("stageIds", ())) & ids
    ]
    out = {f"spark.{k}": v / n_ops for k, v in st.items()}
    out["spark.jobs"] = len(jobs) / n_ops
    walls = []
    for j in jobs:
        if j.get("completionTime"):
            walls.append(common.rest_time(j["completionTime"])
                         - common.rest_time(j["submissionTime"]))
    out["spark.exec_s"] = sum(walls) / n_ops
    return out


# ---------------------------------------------------------------- loops


def _rate(done: list[float], t0: float, seconds: float) -> float:
    """Requests per second over those that completed inside the window, up
    to the last of them: a closed loop's last requests overrun the window,
    and counting them would quantize throughput by whole requests."""
    inside = [d for d in done if t0 <= d <= t0 + seconds]
    return len(inside) / (max(inside) - t0) if inside else 0.0


def _closed_loop(n_conn: int, seconds: float, step, trace: bool):
    """Run ``step(conn, traced)`` on n_conn threads until the window ends.
    With ``trace``, every second request of a connection is traced, so the
    traced and untraced halves see the same conditions."""
    end = time.perf_counter() + seconds

    def worker(c):
        i = 0
        while time.perf_counter() < end:
            step(c, trace and i % 2 == 1)
            i += 1

    threads = [threading.Thread(target=worker, args=(c,)) for c in range(n_conn)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def run(args, data_dir: str, t_setup0: float) -> dict:
    server = Server(data_dir)
    try:
        server.wait_ready()
        res = _read(args, server, data_dir, t_setup0)
    finally:
        server.stop()
    if args.trace:
        res["layers"].update(_in_process(args, data_dir, res))
        res["spans"] = res.pop("tracer")
        for k, v in res["spans"].self_ms().items():
            res["layers"][f"{k}.self_ms"] = v
    return res


def _read(args, server: Server, data_dir: str, t_setup0: float) -> dict:
    pool = read_pool(args.seed)
    names = list(TEMPLATES)
    weights = [1.0 / (i + 1) ** ZIPF_S for i in range(POOL_PER_TEMPLATE)]
    sessions = {}
    for c in range(READ_CONNECTIONS):
        for dialect in ("kusto", "prql"):
            sid = f"pb-{c}-{dialect}"
            request(server.port, "POST", _path(session_id=sid),
                    f"SET dialect = '{dialect}'".encode())
            sessions[(c, dialect)] = sid

    def send(c, item):
        params = {}
        if item["dialect"] != "clickhouse":
            params["session_id"] = sessions[(c, item["dialect"])]
        try:
            return request(server.port, "POST", _path(**params), item["text"].encode())
        except (OSError, http.client.HTTPException) as e:
            # a reply that never arrives is a failed request (status 0)
            return 0, f"{type(e).__name__}: {e}".encode()

    rngs = [random.Random(f"draw-{args.seed}-{c}") for c in range(READ_CONNECTIONS)]
    cycles = [[] for _ in range(READ_CONNECTIONS)]
    results: list[tuple] = []
    finished: list[float] = []  # completion times, for throughput
    lock = threading.Lock()
    tracer = Tracer(False)

    def step(c, traced):
        if not cycles[c]:
            cycles[c] = rngs[c].sample(names, len(names))
        name = cycles[c].pop()
        rank = rngs[c].choices(range(POOL_PER_TEMPLATE), weights)[0]
        item = pool[name][rank]
        t = time.perf_counter()
        if traced:
            with tracer.span("server", name):
                status, body = send(c, item)
        else:
            status, body = send(c, item)
        done = time.perf_counter()
        with lock:
            results.append((name, rank, done - t, status, body, traced))
            finished.append(done)

    _closed_loop(READ_CONNECTIONS, WARMUP_S, step, False)
    setup_s = time.time() - t_setup0
    results.clear()

    before = _window_spark(server.ui) if args.trace else None
    cpu0 = common.tree_cpu_s(server.proc.pid)
    tracer.enabled = bool(args.trace)
    t0 = time.perf_counter()
    _closed_loop(READ_CONNECTIONS, args.seconds, step, bool(args.trace))
    cpu = common.tree_cpu_s(server.proc.pid) - cpu0
    rss = common.tree_rss_mb(server.proc.pid)
    layers = _server_spark_layers(server.ui, before, len(results)) if args.trace else {}

    # correctness: identical texts must give identical bodies, and each
    # distinct text's body must decode to the DuckDB oracle's rows
    import duckdb

    con = duckdb.connect()
    for t in ("orders", "lineitem", "events", "customer", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    verdict: dict[tuple, bool] = {}
    first_body: dict[tuple, int] = {}
    failed = 0
    errors = []
    for name, rank, _lat, status, body, _tr in results:
        key = (name, rank)
        item = pool[name][rank]
        if status == 200 and key not in verdict:
            try:
                ok = wire.same_rows(wire.parse(item["format"], body),
                                    con.execute(item["oracle"]).fetchall())
            except (ValueError, KeyError, IndexError, struct.error):
                ok = False  # an undecodable body is a wrong answer
            verdict[key] = ok
            first_body[key] = zlib.crc32(body)
        good = status == 200 and verdict[key] and zlib.crc32(body) == first_body[key]
        if not good and len(errors) < 5:
            errors.append(f"{status} {item['text'][:80]}: {body[:200]!r}")
        failed += not good

    lat_all = [r[2] for r in results if not r[5]]
    per_tpl = {}
    for name, _rank, lat, *_rest, traced in results:
        if not traced:
            per_tpl.setdefault(name, []).append(lat)
    med = {k: median(v) for k, v in per_tpl.items()}
    seen, repeats = set(), 0
    for name, rank, *_ in results:
        repeats += (name, rank) in seen
        seen.add((name, rank))
    layers["http.repeat_frac"] = repeats / len(results)
    layers["process.peak_rss_mb"] = rss
    out = {
        "attempted": len(results),
        "failed": failed,
        "errors": errors,
        "template_median_s": med,
        "distinct_texts": len(seen),
        "e2e": {
            "setup_s": setup_s,
            "suite_wall_s": sum(med.values()),
            "query_geomean_s": geometric_mean(med.values()),
            "qps": _rate(finished, t0, args.seconds),
            "latency_p50_ms": median(lat_all) * 1e3,
            "latency_p95_ms": p95(lat_all) * 1e3,
            "cpu_ms_per_req": cpu / len(results) * 1e3,
        },
        "layers": layers,
        "tracer": tracer,
        "_pool": pool,
        "_results": results,
    }
    if args.trace:
        lat_tr = [r[2] for r in results if r[5]]
        out["layers"]["trace.overhead_frac"] = median(lat_tr) / median(lat_all) - 1.0
    return out


# ---------------------------------------------------------------- in-process


def _in_process(args, data_dir: str, res: dict) -> dict[str, float]:
    """Per-layer numbers the server cannot report from outside: the same
    statements, called layer by layer on an in-process engine (after the
    server has stopped, so the two do not share the CPU)."""
    import tail

    common.apply_spark_env()
    from clickhouseocp_spark import get_spark
    from clickhouseocp_spark.engine import ChSparkEngine

    spark = get_spark("perfbench-layers")
    eng = ChSparkEngine(data_dir, spark)
    tracer: Tracer = res["tracer"]
    tracer.enabled = True
    layers = tail.in_process_layers(spark, data_dir, tracer)
    layers.update(_read_layers(eng, tracer, res))
    common.stop_session(spark)
    return layers


def _timed(tracer: Tracer, layer: str, name: str, fn, reps: int = 3):
    ts, out = [], None
    for _ in range(reps):
        with tracer.span(layer, name) as sp:
            t = time.perf_counter()
            out = fn()
            ts.append((time.perf_counter() - t) * 1e3)
    return median(ts), out


def _plan_ms(df) -> float:
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    tracked = qe.tracker().phases()
    return float(sum(
        tracked.get(p).get().durationMs()
        for p in ("analysis", "optimization", "planning")
        if tracked.contains(p)
    ))


def _read_layers(eng, tracer: Tracer, res: dict) -> dict[str, float]:
    from clickhouseocp_spark import chsql, kql, prql
    from clickhouseocp_spark.engine import strip_trailing_format
    from clickhouseocp_spark.formats import render, render_rowbinary

    transpilers = {"clickhouse": ("chsql", chsql.transpile),
                   "kusto": ("kql", kql.transpile_kql),
                   "prql": ("prql", prql.transpile_prql)}
    http_lat: dict[tuple, list[float]] = {}
    for name, rank, lat, *_ in res["_results"]:
        http_lat.setdefault((name, rank), []).append(lat * 1e3)
    # the two most-drawn statements of every template
    by_tpl: dict[str, list[tuple]] = {}
    for key, lats in sorted(http_lat.items(), key=lambda kv: -len(kv[1])):
        by_tpl.setdefault(key[0], []).append(key)
    sample = [k for keys in by_tpl.values() for k in keys[:2]]
    acc: dict[str, list[float]] = {}
    overhead = []
    for name, rank in sample:
        item = res["_pool"][name][rank]
        text, dialect, fmt = item["text"], item["dialect"], item["format"]
        bare = strip_trailing_format(text) if dialect == "clickhouse" else text
        layer, fn = transpilers[dialect]
        ms, _ = _timed(tracer, layer, "transpile", lambda: fn(bare))
        acc.setdefault(f"{layer}.transpile_ms", []).append(ms)
        ms, df = _timed(tracer, "engine", "sql", lambda: eng.sql(bare, dialect=dialect))
        acc.setdefault("engine.sql_ms", []).append(ms)
        with tracer.span("spark", "plan"):
            acc.setdefault("spark.plan_ms", []).append(_plan_ms(df))
        if fmt == "RowBinaryWithNamesAndTypes":
            def whole():
                return render_rowbinary(eng.sql(bare, dialect=dialect),
                                        with_names_and_types=True)

            def fmt_only(d):
                return render_rowbinary(d, with_names_and_types=True)
        else:
            def whole():
                return eng.run(text, dialect=dialect)

            def fmt_only(d):
                return render(d, fmt)
        ms, _ = _timed(tracer, "engine", "run", whole)
        acc.setdefault("engine.run_ms", []).append(ms)
        overhead.append(median(http_lat[(name, rank)]) - ms)
        df.cache()
        df.count()
        ms, _ = _timed(tracer, "formats", "render", lambda: fmt_only(df))
        acc.setdefault("formats.render_ms", []).append(ms)
        df.unpersist()
    out = {k: median(v) for k, v in acc.items()}
    out["server.overhead_ms"] = median(overhead)
    return out

