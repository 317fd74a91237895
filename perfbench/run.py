"""Dashboard-server benchmark.

    python3 perfbench/run.py --workload dash_light --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  It starts ``perfbench/serve.py`` (one
ShaperServer over a fresh warehouse, metastore and local dir), drives it
over HTTP from at most ``nproc`` client threads, warms it up, times a
window of ``--seconds`` and prints one JSON result line last:
``{"correct", "attempted", "failed", "metrics"}``.  The line before it
is the stamp: hardware, versions, source commit and the warm-up record.
With ``--trace 1`` the metrics are per-layer figures from tracing.py.
See perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import hashlib
import http.client
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import dashboards as D  # noqa: E402
import datagen  # noqa: E402
import stats  # noqa: E402

CPUS = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "2g"
# POST /api/data flushes inside every ack, whatever the batch size.
BATCH_ROWS = 500
PROBE_INGESTS = 2  # the traced run's write probe: ingest acks ...
PROBE_TASKS = 2  # ... then rollup task runs
PROBE_PERIOD_S = 1.5  # the probe's batches are due this far apart
# Where a workload has no downloads in its window, each dashboard's
# export is downloaded this many times after it, from one client.
DOWNLOAD_PASS = 1
WARM_BUCKET_S = 2.0
WARM_TOL = 0.10
TRACE_SEGMENTS = 4  # a traced run's window: four quarters, two traced
SERVER_START_TIMEOUT_S = 150
HTTP_TIMEOUT_S = 60


def combos(dashes) -> list[tuple]:
    return [(d, v) for d in dashes for v in d.values]


@dataclass(frozen=True)
class Workload:
    sf: float
    tables: tuple  # the tables its dashboards read; only these are served
    dashboards: tuple
    clients: int  # closed-loop clients in the window
    # every k-th window request is a download; 0: none in the window,
    # the downloads are timed after it instead (DOWNLOAD_PASS)
    download_every: int
    # Warm-up runs warm_clients clients for warm_requests requests since
    # set-up, the prime pass included, or at most warm_max_s.
    warm_clients: int
    warm_requests: int
    warm_max_s: float


WORKLOADS = {
    "dash_light": Workload(
        0.01, ("customer", "events", "lineitem", "nation", "orders", "part"),
        D.LIGHT, 1, 0, CPUS, 85, 30.0),
    "dash_heavy": Workload(
        0.1, ("customer", "lineitem", "nation", "orders", "region"),
        D.HEAVY, max(1, CPUS // 2), 4, max(1, CPUS // 2), 48, 28.0),
}


@dataclass
class Sample:
    kind: str  # render | download | ingest | task
    key: str  # dashboard id, or "" for writes
    start: float
    end: float
    ok: bool


@dataclass
class State:
    samples: list = field(default_factory=list)
    # last good render response per (dashboard, value)
    responses: dict = field(default_factory=dict)
    acked_rows: int = 0
    errors: list = field(default_factory=list)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def add(self, sample: Sample, error: str = "") -> None:
        with self.lock:
            self.samples.append(sample)
            if not sample.ok and len(self.errors) < 5:
                self.errors.append(f"{sample.kind} {sample.key}: {error}")


class Client:
    def __init__(self, port: int):
        self.port = port

    def request(self, method: str, path: str, body=None):
        conn = http.client.HTTPConnection(
            "127.0.0.1", self.port, timeout=HTTP_TIMEOUT_S
        )
        try:
            data = None if body is None else json.dumps(body).encode()
            headers = {"Content-Type": "application/json"} if data else {}
            conn.request(method, path, body=data, headers=headers)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()


# --- server process -------------------------------------------------------


class Server:
    def __init__(self, src: str, run_dir: str, sf_dir: str):
        self.t0 = time.perf_counter()
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(CPUS),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
            TMPDIR=tmp,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            PYTHONDONTWRITEBYTECODE="1",
        )
        self.log = open(os.path.join(run_dir, "server.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "serve.py"),
             "--run-dir", run_dir, "--sf-dir", sf_dir, "--src", src],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            text=True, env=env, start_new_session=True,
        )
        self.started = self._read(SERVER_START_TIMEOUT_S)
        self.t_ready = time.perf_counter()
        self.port = self.started["port"]

    def _read(self, timeout: float) -> dict:
        out: list = []

        def reader():
            for line in self.proc.stdout:
                if line.startswith("@@ "):
                    out.append(json.loads(line[3:]))
                    return

        t = threading.Thread(target=reader, daemon=True)
        t.start()
        t.join(timeout)
        if not out:
            raise RuntimeError("server did not answer (see server.log)")
        return out[0]

    def cmd(self, name: str, timeout: float = 60) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": name}) + "\n")
        self.proc.stdin.flush()
        return self._read(timeout)

    def stop(self) -> None:
        """Kill the server's whole process group (the JVM and any Python
        workers belong to it) and wait until every member has exited.
        Nothing of a run is kept, so there is nothing to shut down
        gracefully."""
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                break
            if self.proc.poll() is None:
                self.proc.wait()
            time.sleep(0.05)
        self.log.close()


# --- request streams ------------------------------------------------------


class Stream:
    """Seeded request stream shared by a phase's client threads.  Renders
    come in rounds, each a shuffle of every (dashboard, value), so the
    first round renders every variable set once.  Every k-th request is
    instead a CSV download: of each dashboard in turn, so a short window
    holds an even mix of them, with a seeded random value."""

    def __init__(self, wl: Workload, seed: int):
        self.rng = random.Random(seed)
        self.pool = combos(wl.dashboards)
        self.dashboards = list(wl.dashboards)
        self.rng.shuffle(self.dashboards)
        self.download_every = wl.download_every
        self.queue: list = []
        self.n = 0
        self.lock = threading.Lock()

    def next(self) -> tuple:
        with self.lock:
            self.n += 1
            if self.download_every and self.n % self.download_every == 0:
                k = self.n // self.download_every
                dash = self.dashboards[k % len(self.dashboards)]
                return dash, self.rng.choice(dash.values), True
            if not self.queue:
                self.rng.shuffle(self.pool)
                self.queue = list(self.pool)
            return (*self.queue.pop(0), False)


def render_once(client, state, dash, value, record=True) -> dict | None:
    path = f"/api/dashboards/{dash.id}?{dash.var}={_q(value)}"
    t0 = time.perf_counter()
    err = ""
    resp = None
    try:
        status, body = client.request("GET", path)
        if status == 200:
            resp = json.loads(body)
            if not D.shape_ok(dash, resp):
                err, resp = "bad shape", None
        else:
            err = f"HTTP {status}: {body[:200]!r}"
    except Exception as e:  # a failed request is a miss, not a crash
        err = repr(e)
    t1 = time.perf_counter()
    if record:
        state.add(Sample("render", dash.id, t0, t1, resp is not None), err)
    if resp is not None:
        with state.lock:
            state.responses[(dash.id, value)] = resp
    return resp


def download_once(client, state, dash, value, expect) -> None:
    path = (
        f"/api/dashboards/{dash.id}/download/{dash.filename}"
        f"?{dash.var}={_q(value)}"
    )
    t0 = time.perf_counter()
    err = ""
    try:
        status, body = client.request("GET", path)
        lines = body.decode().splitlines()
        ok = status == 200
        if ok and expect is not None:
            header, nrows = expect[(dash.id, value)]
            ok = lines[0] == header and len(lines) - 1 == nrows
        if not ok:
            err = f"HTTP {status}, {len(lines)} lines"
    except Exception as e:
        ok, err = False, repr(e)
    state.add(Sample("download", dash.id, t0, time.perf_counter(), ok), err)


def _q(value: str) -> str:
    from urllib.parse import quote

    return quote(value)


def request_once(client, state, dash, value, download, expect) -> None:
    if download:
        download_once(client, state, dash, value, expect)
    else:
        render_once(client, state, dash, value)


def reader_loop(client, state, stream, stop, expect) -> None:
    while not stop.is_set():
        request_once(client, state, *stream.next(), expect)


def make_batch(rng: random.Random, batch: int, first_seq: int) -> list[dict]:
    rows = []
    for i in range(BATCH_ROWS):
        row = {
            "kind": rng.choice(datagen.EVENT_TYPES),
            "amount": round(rng.uniform(0, 100), 2),
            "batch": batch,
            "seq": first_seq + i,
        }
        if batch >= 2:  # a new column arrives: schema evolution
            row["region"] = rng.choice(datagen.REGIONS)
        rows.append(row)
    return rows


class Writer:
    """The write probe: ingest batches into D.LIVE_TABLE and runs of the
    rollup task, whose count must equal the acknowledged rows."""

    def __init__(self, client, state, seed):
        self.client = client
        self.state = state
        self.rng = random.Random(seed * 7919)
        self.batch = 0
        self.sends: list[tuple[float, float]] = []  # (due, sent)

    def ingest(self, due: float, record: bool = True) -> None:
        """POST one batch; its latency counts from ``due``, when it was
        scheduled, so a late send is not hidden (open loop)."""
        payloads = make_batch(self.rng, self.batch, self.batch * BATCH_ROWS)
        self.batch += 1
        if record:
            self.sends.append((due, time.perf_counter()))
        err = ""
        try:
            status, body = self.client.request(
                "POST", f"/api/data/{D.LIVE_TABLE}", payloads
            )
            ok = status == 200 and json.loads(body)["ingested"] == BATCH_ROWS
            if not ok:
                err = f"HTTP {status}: {body[:200]!r}"
        except Exception as e:
            ok, err = False, repr(e)
        if ok:
            with self.state.lock:
                self.state.acked_rows += BATCH_ROWS
        if record or not ok:
            # start=due: a send made late by a slow ack pays the delay
            self.state.add(
                Sample("ingest", "", due, time.perf_counter(), ok), err
            )

    def run_task(self) -> None:
        """Run the rollup task; with no ingest in flight its count must
        equal the acknowledged rows."""
        t0 = time.perf_counter()
        err = ""
        try:
            status, body = self.client.request(
                "POST", "/api/run/task", {"id": "rollup"}
            )
            res = json.loads(body)
            events = None
            if status == 200 and res.get("success"):
                events = res["queries"][-1]["resultRows"][0][0]
            ok = events == self.state.acked_rows
            if not ok:
                err = f"HTTP {status}: events={events} " \
                      f"acked={self.state.acked_rows}"
        except Exception as e:
            ok, err = False, repr(e)
        self.state.add(Sample("task", "", t0, time.perf_counter(), ok), err)

    def probe(self) -> None:
        """PROBE_INGESTS batches due PROBE_PERIOD_S apart (open loop),
        then PROBE_TASKS task runs back to back."""
        start = time.perf_counter()
        end = start + PROBE_INGESTS * PROBE_PERIOD_S
        for due in stats.due_times(start, PROBE_PERIOD_S, end):
            time.sleep(max(0.0, due - time.perf_counter()))
            self.ingest(due)
        for _ in range(PROBE_TASKS):
            self.run_task()


# --- expected results -----------------------------------------------------


def expectations(sf_dir: str, dashes) -> tuple[dict, dict]:
    """DuckDB's rows for every widget of every (dashboard, value), and
    the CSV header and row count of every download.  Computed before the
    server starts, so DuckDB's load falls in no timed phase, and kept
    next to the tables, keyed by the SQL, for later runs."""
    sqls = [
        D.companion(q, dash.var, value)
        for dash, value in combos(dashes)
        for q in [q for _, q in dash.widgets] + [dash.export]
    ]
    key = hashlib.sha256("\n".join(sqls).encode()).hexdigest()[:16]
    path = os.path.join(sf_dir, f"expected-{key}.json")
    if not os.path.exists(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(_expect(sf_dir, dashes), f)
        os.replace(tmp, path)
    with open(path) as f:
        saved = json.load(f)
    widgets = {(d, v): rows for d, v, rows, _ in saved}
    downloads = {(d, v): tuple(csv) for d, v, _, csv in saved}
    return widgets, downloads


def _expect(sf_dir: str, dashes) -> list:
    """``[dashboard id, value, widget rows, [csv header, csv rows]]``
    for every (dashboard, value), JSON-ready."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name in os.listdir(sf_dir):
        if name.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {name.removesuffix('.parquet')} AS SELECT * "
                f"FROM read_parquet('{os.path.join(sf_dir, name)}')"
            )
    out = []
    for dash, value in combos(dashes):
        widgets = [
            [[D.wire_value(v) for v in row] for row in
             con.execute(D.companion(q, dash.var, value)).fetchall()]
            if kind == "query" else None  # the button: checked by shape
            for kind, q in dash.widgets
        ]
        rel = con.execute(D.companion(dash.export, dash.var, value))
        header = ",".join(c[0] for c in rel.description)
        out.append([dash.id, value, widgets, [header, len(rel.fetchall())]])
    con.close()
    return out


def diff_renders(state, widgets) -> list[str]:
    bad = []
    for key, want in widgets.items():
        got = state.responses.get(key)
        if got is None:
            bad.append(f"{key}: never rendered")
            continue
        rows = D.widget_rows(got)
        if len(rows) != len(want) or not all(
            w is None or D.rows_match(g, w) for g, w in zip(rows, want)
        ):
            bad.append(f"{key}: rows differ from DuckDB")
    return bad


# --- the run --------------------------------------------------------------


def source_commit(src: str) -> str:
    """HEAD of the checkout's own git repository, if it has one (git
    would otherwise search the parent directories)."""
    if not os.path.exists(os.path.join(src, ".git")):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "-C", src, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() readings (field 8 of the cpu line is steal)."""
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / max(1, sum(delta))


def window(state, kind, t0, t1) -> list[Sample]:
    return [
        s for s in state.samples
        if s.kind == kind and t0 <= s.end <= t1
    ]


def downloads_in(state, w0, w1) -> list[Sample]:
    """The downloads that ended in [w0, w1]; if a slow run had none
    there, the last one before it."""
    inside = window(state, "download", w0, w1)
    return inside or window(state, "download", float("-inf"), w0)[-1:]


def latencies(samples) -> list[float]:
    return stats.with_misses(
        [s.end - s.start for s in samples if s.ok],
        sum(1 for s in samples if not s.ok),
    )


def warm_up(state, wl, t_start) -> dict:
    """Wait until ``warm_requests`` requests have ended since ``t_start``
    (the end of set-up; the prime pass counts), or ``warm_max_s`` has
    passed.  The JVM warms with work done, so a fixed amount of work
    puts the window at the same point of the warm-up slope on a faster
    or slower run; the time cap bounds a slow one.  The record sums up
    each WARM_BUCKET_S bucket as the median of latency / that
    dashboard's warm-up median, so the mix of dashboards does not count
    as movement; ``levelled``: the last two buckets agree within
    WARM_TOL."""
    while True:
        time.sleep(0.1)
        now = time.perf_counter()
        done = sum(1 for s in list(state.samples) if s.end >= t_start)
        if done >= wl.warm_requests or now - t_start >= wl.warm_max_s:
            break
    warm = [s for s in window(state, "render", t_start, now) if s.ok]
    rel = stats.relative_to_group_median(
        [(s.key, s.end - s.start) for s in warm])
    buckets = []
    a = t_start
    while a < now:
        inside = [r for s, r in zip(warm, rel) if a <= s.end < a + WARM_BUCKET_S]
        if inside:
            buckets.append(stats.percentile(inside, 0.5))
        a += WARM_BUCKET_S
    return {
        "warm_s": round(now - t_start, 2),
        "requests": done,
        "renders": len(warm),
        "levelled": stats.levelled(buckets, WARM_TOL),
        "relative_bucket_medians": [round(b, 4) for b in buckets],
    }


def start_readers(client, state, stream, n, stop, downloads) -> list:
    threads = [
        threading.Thread(
            target=reader_loop, args=(client, state, stream, stop, downloads)
        )
        for _ in range(n)
    ]
    for t in threads:
        t.start()
    return threads


def prime_pass(client, state, wl, seed, n, expect) -> None:
    """Render every (dashboard, value) once and, where the window has
    downloads, download each once too (a first download plans and
    compiles its export, and that should not land in the window), in
    seeded order, from ``n`` threads."""
    todo = [(d, v, False) for d, v in combos(wl.dashboards)]
    if wl.download_every:
        todo += [(d, v, True) for d, v in combos(wl.dashboards)]
    random.Random(seed).shuffle(todo)
    lock = threading.Lock()

    def work():
        while True:
            with lock:
                if not todo:
                    return
                item = todo.pop()
            request_once(client, state, *item, expect)

    threads = [threading.Thread(target=work) for _ in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def download_pass(client, state, wl, seed, expect) -> None:
    """DOWNLOAD_PASS downloads of each dashboard's export, one at a
    time, each with a seeded value."""
    rng = random.Random(seed + 1)
    for dash in list(wl.dashboards) * DOWNLOAD_PASS:
        download_once(client, state, dash, rng.choice(dash.values), expect)


def run(args) -> int:
    src = os.getcwd()
    if not os.path.isfile(os.path.join(src, "shaper_spark", "api.py")):
        print("run from the root of a shaper-spark checkout", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = os.path.join(HERE, ".work")
    sf_dir = datagen.ensure(os.path.join(work, "data"), wl.sf, wl.tables)
    widgets, downloads = expectations(sf_dir, wl.dashboards)
    run_dir = os.path.join(
        work, "runs", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    state = State()
    cpu0 = cpu_times()
    server = None
    stop = threading.Event()
    readers: list[threading.Thread] = []
    try:
        server = Server(src, run_dir, sf_dir)
        client = Client(server.port)
        for dash in wl.dashboards:
            client.request("POST", "/api/dashboards",
                           {"id": dash.id, "content": dash.content})
        first = wl.dashboards[0]
        if render_once(client, state, first, first.values[0]) is None:
            raise RuntimeError("first render failed: " + "; ".join(state.errors))
        t_setup = time.perf_counter()
        setup_s = t_setup - server.t0

        # The warm-up starts with a fixed amount of work, after which the
        # live heap is read: what the program keeps per cached plan and
        # per served query counts, how much a run got through does not.
        prime_pass(client, state, wl, args.seed, CPUS, downloads)
        g0 = time.perf_counter()
        heap = server.cmd("gc")
        g1 = time.perf_counter()

        stream = Stream(wl, args.seed)
        writer = Writer(client, state, args.seed)
        if args.trace:  # the write probe's table and task
            writer.ingest(time.perf_counter(), record=False)
            client.request("POST", "/api/tasks",
                           {"id": "rollup", "content": D.ROLLUP_TASK})
        readers = start_readers(client, state, stream, wl.warm_clients, stop,
                                downloads)
        warm = warm_up(state, wl, t_setup)
        if wl.clients != wl.warm_clients:
            stop.set()
            for t in readers:
                t.join(HTTP_TIMEOUT_S + 5)
            stop.clear()
            readers = start_readers(client, state, stream, wl.clients, stop,
                                    downloads)

        segments = []  # (start, end, traced)
        for i in range(TRACE_SEGMENTS if args.trace else 1):
            # untraced, traced, traced, untraced: a latency trend over
            # the window weighs on both sides alike
            traced = bool(args.trace and i in (1, 2))
            if args.trace:
                server.cmd("trace_on" if traced else "trace_pause")
            a = time.perf_counter()
            time.sleep(args.seconds / (TRACE_SEGMENTS / 2 if args.trace else 1))
            segments.append((a, time.perf_counter(), traced))
        stop.set()
        for t in readers:
            t.join(HTTP_TIMEOUT_S + 5)
        t_drained = time.perf_counter()
        w0, w1 = segments[0][0], segments[-1][1]

        trace = None
        if args.trace:
            server.cmd("trace_on")
        dl_span = (w0, w1)
        if not wl.download_every:
            d0 = time.perf_counter()
            download_pass(client, state, wl, args.seed, downloads)
            dl_span = (d0, time.perf_counter())
        rss_mb = server.cmd("rss")["vmhwm_mb"]
        p0 = time.perf_counter()
        if args.trace:
            writer.probe()
            trace = server.cmd("trace_report")
        p1 = time.perf_counter()
        # a slow machine may not have rendered every variable set yet
        for dash, value in combos(wl.dashboards):
            if (dash.id, value) not in state.responses:
                render_once(client, state, dash, value, record=False)
        stamp = dict(server.cmd("stamp"))
    except BaseException:
        log = os.path.join(run_dir, "server.log")
        if os.path.exists(log):
            with open(log, errors="replace") as f:
                sys.stderr.write("server.log tail:\n" + f.read()[-3000:])
        raise
    finally:
        stop.set()
        if server is not None:
            server.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    t_end = time.perf_counter()

    bad = diff_renders(state, widgets)
    timed = [seg for seg in segments if seg[2] == bool(args.trace)]
    renders = [
        s for a, b, _ in timed for s in window(state, "render", a, b)
    ]
    per_dash = {
        d.id: latencies([s for s in renders if s.key == d.id])
        for d in wl.dashboards
    }
    dl = downloads_in(state, *dl_span)
    per_dash_dl = {
        d.id: latencies([s for s in dl if s.key == d.id])
        for d in wl.dashboards
    }
    attempted = len(state.samples) + len(widgets)
    failed = sum(not s.ok for s in state.samples) + len(bad)

    stamp.update({
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "sf_dir": os.path.relpath(sf_dir, src),
        "sf": wl.sf,
        "cpus_used": CPUS,
        "driver_mem": DRIVER_MEM,
        "commit": source_commit(src),
        "warmup": warm,
        "window_thirds_ratio": round(stats.thirds_ratio(
            stats.relative_to_group_median(
                [(s.key, s.end - s.start) for s in renders if s.ok])), 4),
        "gc_rounds": heap["gc_rounds"],
        "renders_in_window": len(renders),
        "downloads_timed": len(dl),
        "probe_max_lateness_s": round(stats.max_lateness(writer.sends), 4),
        "steal_pct": round(steal_pct(cpu0, cpu_times()), 2),
        "phases_s": {
            k: round(v, 2) for k, v in (
                ("setup", setup_s),
                ("server_up", server.t_ready - server.t0),
                ("session", server.started["session_s"]),
                ("tables", server.started["tables_s"]),
                ("first_render", t_setup - server.t_ready),
                ("prime", g0 - t_setup),
                ("gc", g1 - g0),
                ("warm", w0 - t_setup),
                ("window", w1 - w0),
                ("drain", t_drained - w1),
                ("downloads", p0 - t_drained),
                ("probe", p1 - p0),
                ("teardown", t_end - p1),
            )
        },
        "errors": state.errors + bad[:5],
    })
    if args.trace:
        done = [(s.start, s.end) for s in state.samples
                if s.kind == "render" and s.ok]
        untraced, traced = (
            sum(stats.completions(done, a, b) for a, b, t in segments
                if t == flag)
            for flag in (False, True)
        )
        metrics = layer_metrics(trace, untraced / traced - 1)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "render_p50_s": (stats.per_group_geomean(per_dash, 0.5), "s"),
            "render_p90_s": (stats.pooled_percentile(per_dash, 0.9), "s"),
            "renders_per_s": (stats.completions(
                [(s.start, s.end) for s in state.samples
                 if s.kind == "render" and s.ok], w0, w1) / (w1 - w0), "1/s"),
            "download_p50_s": (
                stats.per_group_geomean(per_dash_dl, 0.5), "s"),
            "driver_rss_mb": (rss_mb, "MB"),
            "jvm_live_heap_mb": (heap["heap_mb"], "MB"),
        }
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": _finite(v), "unit": u} for k, (v, u) in metrics.items()
        },
    }))
    return 0


def _finite(v: float) -> float:
    # JSON has no infinity: a metric made only of misses reports 1e9
    return v if v < 1e9 else 1e9


def layer_metrics(trace, overhead) -> dict:
    tot = trace["totals"]
    cnt = trace["counters"]

    def self_s(name):
        return tot.get(name, [0, 0.0, 0.0])[1]

    def calls(name):
        return tot.get(name, [0, 0.0, 0.0])[0]

    n_render = max(1, calls("engine.query_dashboard"))
    stmts = max(1, calls("render/engine.run_query"))
    render_wall = tot.get("engine.query_dashboard", [0, 0.0, 1.0])[2] or 1.0
    layers = sum(
        self_s(k) for k in tot
        if k.startswith("render/")
    )
    lookups = cnt.get("render/plancache.lookups", 0.0)
    misses = cnt.get("render/plancache.misses", 0.0)
    flushes = max(1.0, cnt.get("ingest.flushes", 0.0))
    m = {
        "sqltool.s_per_render": (self_s("render/sqltool") / n_render, "s"),
        "rewrite.ms_per_stmt": (1000 * self_s("render/rewrite") / stmts, "ms"),
        "rewrite.calls_per_render": (calls("render/rewrite") / n_render, "count"),
        "engine.expand_s_per_render": (
            self_s("render/engine.run_query") / n_render, "s"),
        "plancache.hit_ratio": (
            (lookups - misses) / lookups if lookups else 0.0, "ratio"),
        "plancache.lookups_per_render": (lookups / n_render, "count"),
        "plancache.analyze_s_per_miss": (
            cnt.get("plancache.miss_s", 0.0)
            / max(1.0, cnt.get("plancache.misses", 0.0)), "s"),
        "spark.jobs_per_render": (cnt.get("render/spark.jobs", 0.0) / n_render,
                                  "count"),
        "spark.planning_ms_per_stmt": (
            cnt.get("render/spark.planning_ms", 0.0)
            / max(1.0, cnt.get("render/spark.stmts", 0.0)), "ms"),
        "spark.collect_s_per_render": (
            self_s("render/spark.collect") / n_render, "s"),
        "spark.result_rows_per_render": (
            cnt.get("render/spark.rows", 0.0) / n_render, "count"),
        "render.s_per_render": (self_s("render/render") / n_render, "s"),
        "normalize.s_per_render": (self_s("render/normalize") / n_render, "s"),
        "api.self_s_per_request": (
            self_s("api.render") / max(1, calls("api.render")), "s"),
        "exports.mb_per_s": (
            cnt.get("exports.bytes", 0.0) / 2**20
            / max(1e-9, cnt.get("exports.s", 0.0)), "MB/s"),
        "ingest.flush_s": (cnt.get("ingest.flush_s", 0.0) / flushes, "s"),
        "ingest.schema_s": (
            tot.get("ingest.schema", [1, 0.0, 0.0])[2]
            / max(1, calls("ingest.schema")), "s"),
        "tasks.execute_s": (
            tot.get("tasks.execute", [1, 0.0, 0.0])[2]
            / max(1, calls("tasks.execute")), "s"),
        "trace.coverage": (layers / render_wall, "ratio"),
        "trace.overhead": (overhead, "ratio"),
    }
    return m


def main() -> int:
    # SIGTERM unwinds like an exception, so the server group is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args())


if __name__ == "__main__":
    sys.exit(main())
