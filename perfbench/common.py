"""Shared plumbing: checkout layout, Spark environment, process-tree
accounting, span tracing, Spark REST reads and summary statistics."""

from __future__ import annotations

import datetime as dt
import json
import os
import shlex
import socket
import statistics
import subprocess
import sys
import threading
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SF = 0.1
CPUS = len(os.sched_getaffinity(0))
#: heap of each program JVM (the in-process session and the HTTP server)
DRIVER_MEM = "3g"


class SetupError(RuntimeError):
    """The checkout cannot run the benchmark (no program, no data)."""


def check_program() -> None:
    if not os.path.isfile(os.path.join(ROOT, "clickhouseocp_spark", "__init__.py")):
        raise SetupError(f"no clickhouseocp_spark package under {ROOT}")


def dataset() -> tuple[str, str]:
    """Path and content hash of the sf0.1 tables, generated once per
    checkout into a directory keyed by the generator's own source hash."""
    import hashlib

    import datagen

    with open(datagen.__file__, "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(WORK, "data", f"sf{SF}-{key}")
    if not os.path.isfile(os.path.join(path, "CONTENT_HASH")):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        datagen.generate(path, SF)
    with open(os.path.join(path, "CONTENT_HASH")) as f:
        return path, f.read().strip()


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def fresh_scratch() -> None:
    """Empty the scratch dirs a previous run may have left (a killed server
    cannot clean its shuffle files), so every run starts alike."""
    import shutil

    for d in ("tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)


def spark_env(ui_port: int | None = None) -> dict[str, str]:
    """Environment for any process that starts a program JVM: the repo on
    the Python workers' path, nproc-sized parallelism, scratch space inside
    the checkout, quiet logs and no console progress bar."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    java_opts = (
        f"-Dlog4j2.configurationFile=file:{os.path.join(HERE, 'log4j2.properties')}"
    )
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.driver.extraJavaOptions={java_opts}",
    ]
    if ui_port:
        submit += ["--conf", f"spark.ui.port={ui_port}"]
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_WAREHOUSE=os.path.join(WORK, "warehouse"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=tmp,
        # every JVM, the spark-submit launcher included: temp files and no
        # hsperfdata under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
    )
    return env


def stop_session(spark) -> None:
    """Stop an in-process session and wait until its JVM, and the Python
    workers under it, have exited."""
    me = os.getpid()
    pids = [p for p in tree(me) if p != me]
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for p in pids:
        while (st := _stat(p)) and st[0] != "Z":
            if time.time() > deadline:
                os.kill(p, 9)
            time.sleep(0.05)


def apply_spark_env() -> None:
    """Configure this process so an in-process session behaves like the
    server's."""
    os.environ.update(spark_env())
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# ---------------------------------------------------------------- /proc


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU of the process tree, reaped children included."""
    total = 0
    for p in tree(root):
        st = _stat(p)
        if st:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def tree_rss_mb(root: int) -> float:
    """Sum of the peak resident set (VmHWM) over the live tree."""
    kb = 0
    for p in tree(root):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def process_start_time() -> float:
    """Wall-clock start of this process (from /proc, 1/CLK_TCK resolution)."""
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + int(_stat(os.getpid())[19]) / _TICK


# ---------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans: (layer, name, start, end, parent).  ``enabled=False``
    makes every span a no-op so untraced runs pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def span(self, layer: str, name: str = ""):
        return _Span(self, layer, name)

    def add(self, layer: str, name: str, start: float, end: float, parent=None):
        """Record a span measured elsewhere (e.g. a Spark phase or job)."""
        if self.enabled:
            with self._lock:
                rec = {"layer": layer, "name": name, "start": start, "end": end,
                       "parent": parent, "id": len(self.spans)}
                self.spans.append(rec)
            return rec["id"]
        return None

    def current(self):
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    def self_ms(self) -> dict[str, float]:
        """Mean self time per call into each layer: a span's duration minus
        the part of it its child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        calls: dict[str, int] = {}
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], ())):
                a, b = max(a, edge, s["start"]), min(b, s["end"])
                if b > a:
                    covered += b - a
                    edge = b
            own = (s["end"] - s["start"]) - covered
            out[s["layer"]] = out.get(s["layer"], 0.0) + own * 1e3
            calls[s["layer"]] = calls.get(s["layer"], 0) + 1
        return {k: v / calls[k] for k, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.t, self.layer, self.name = tracer, layer, name
        self.id = None

    def __enter__(self):
        if self.t.enabled:
            self.parent = self.t.current()
            self.start = time.perf_counter()
            stack = getattr(self.t._local, "stack", None)
            if stack is None:
                stack = self.t._local.stack = []
            with self.t._lock:
                self.id = len(self.t.spans)
                self.t.spans.append(None)  # reserve the id; filled on exit
            stack.append(self.id)
        return self

    def __exit__(self, *exc):
        if self.t.enabled:
            self.t._local.stack.pop()
            self.t.spans[self.id] = {
                "layer": self.layer, "name": self.name, "start": self.start,
                "end": time.perf_counter(), "parent": self.parent, "id": self.id,
            }
        return False


# ---------------------------------------------------------------- Spark REST


def rest(base: str, path: str, timeout: float = 10.0):
    with urllib.request.urlopen(f"{base}/api/v1{path}", timeout=timeout) as r:
        return json.loads(r.read())


def app_id(base: str) -> str | None:
    try:
        apps = rest(base, "/applications")
    except OSError:
        return None
    return apps[0]["id"] if apps else None


_STAGE_SUMS = {
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "spill_mb": ("diskBytesSpilled", 1 / 2**20),
    "tasks": ("numCompleteTasks", 1.0),
}


def stage_totals(base: str, app: str, stage_ids=None) -> dict[str, float]:
    """Executor CPU, GC, shuffle, spill, task and stage counts over the
    completed stages (all of them, or those in ``stage_ids``)."""
    stages = rest(base, f"/applications/{app}/stages?status=complete")
    out = {k: 0.0 for k in _STAGE_SUMS}
    out["stages"] = 0.0
    for s in stages:
        if stage_ids is not None and s["stageId"] not in stage_ids:
            continue
        out["stages"] += 1
        for k, (field, scale) in _STAGE_SUMS.items():
            out[k] += s.get(field, 0) * scale
    return out


def rest_time(s: str) -> float:
    """Spark REST timestamp ('2026-01-01T00:00:00.123GMT') → epoch seconds."""
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


# ---------------------------------------------------------------- statistics


def p95(xs) -> float:
    """95th percentile, linearly interpolated between order statistics."""
    return statistics.quantiles(xs, n=20, method="inclusive")[-1]


def host_info(content_hash: str) -> dict:
    """nproc, load, Spark version, commit and dataset hash for the log."""
    try:
        import pyspark

        spark_version = pyspark.__version__
    except ImportError:
        spark_version = None
    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.isfile(head):
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            p = os.path.join(ROOT, ".git", ref[5:])
            commit = open(p).read().strip() if os.path.isfile(p) else ref[5:]
        else:
            commit = ref
    return {
        "nproc": CPUS,
        "loadavg": os.getloadavg(),
        "spark_version": spark_version,
        "commit": commit,
        "dataset_hash": content_hash,
        "sf": SF,
    }
