"""Per-layer tracing for the benchmark's traced run.

The tracer wraps the program's public functions from outside the
program: for every target it finds each module of ``shaper_spark`` that
holds the function under some name and replaces that name, because a
caller looks the name up in its own module (``engine.rewrite_statement``
is the object engine calls, not ``rewrite.rewrite_statement``).
``uninstall`` puts every original back.

Each wrapped call is a span.  Spans nest per thread; a span's self time
is its length minus what its direct children cover (stats.self_time).
Totals are kept per span name as [calls, self seconds, wall seconds].
Spans and counters opened inside a dashboard render (under
``engine.query_dashboard``) are also kept under ``render/<name>`` so
per-render figures exclude downloads, ingest and tasks.
"""

from __future__ import annotations

import re
import sys
import threading
import time
from collections import defaultdict

import stats

# (span name, module, function names): the layer is the module name
_TARGETS = (
    ("sqltool", "shaper_spark.sqltool",
     ("strip_sql_comments", "split_sql_queries", "is_allowed_statement",
      "is_side_effect")),
    ("rewrite", "shaper_spark.rewrite",
     ("rewrite_statement", "substitute_variables", "find_variable_refs")),
    ("engine.run_query", "shaper_spark.engine", ("_run_query",)),
    ("engine.query_dashboard", "shaper_spark.engine", ("query_dashboard",)),
    ("render", "shaper_spark.render",
     ("get_render_info", "is_label", "is_section_title", "is_reload",
      "is_header_image", "is_footer_link", "can_start_section", "map_tag",
      "find_column_by_tag")),
    ("normalize", "shaper_spark.normalize",
     ("normalize_rows", "map_wire_type")),
    ("tasks.execute", "shaper_spark.tasks", ("execute_task",)),
)

_PHASE_RE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")
ROOT = "engine.query_dashboard"


class Tracer:
    def __init__(self, spark, server):
        self.spark = spark
        self.server = server
        self._local = threading.local()
        self._lock = threading.Lock()
        self.totals = defaultdict(lambda: [0, 0.0, 0.0])
        self.counters = defaultdict(float)
        self._undo: list[tuple[object, str, object]] = []
        self._dag = None

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _in_render(self) -> bool:
        return any(f[0] == ROOT for f in self._stack())

    def _add(self, key: str, self_s: float, wall_s: float) -> None:
        with self._lock:
            t = self.totals[key]
            t[0] += 1
            t[1] += self_s
            t[2] += wall_s

    def count(self, key: str, value: float) -> None:
        with self._lock:
            self.counters[key] += value
            if self._in_render():
                self.counters["render/" + key] += value

    def span(self, name: str, fn, suffix=None):
        """``fn`` wrapped in a span called ``name``; ``suffix(args)``,
        if given, is appended to the name once the call has returned."""
        tracer = self

        def wrapper(*args, **kwargs):
            stack = tracer._stack()
            frame = [name, time.perf_counter(), []]
            stack.append(frame)
            try:
                return fn(*args, **kwargs)
            finally:
                end = time.perf_counter()
                stack.pop()
                if suffix is not None:
                    name_ = name + suffix(args)
                else:
                    name_ = name
                start = frame[1]
                own = stats.self_time(start, end, frame[2])
                if stack:
                    stack[-1][2].append((start, end))
                tracer._add(name_, own, end - start)
                if name_ != ROOT and any(f[0] == ROOT for f in stack):
                    tracer._add("render/" + name_, own, end - start)

        wrapper.__wrapped__ = fn
        return wrapper

    # -- patching ----------------------------------------------------------

    def _patch_attr(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _patch_everywhere(self, name: str, fn, body=None) -> None:
        """Replace ``fn`` under every name any shaper_spark module binds
        it to, with a span running ``body`` (default: ``fn`` itself)."""
        wrapped = self.span(name, body or fn)
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith("shaper_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patch_attr(mod, attr, wrapped)

    def install(self) -> None:
        if self._undo:
            return  # already installed
        if self._dag is None:
            self._dag = self.spark.sparkContext._jsc.sc().dagScheduler()
        for name, modname, fnames in _TARGETS:
            mod = sys.modules[modname]
            for fname in fnames:
                self._patch_everywhere(name, getattr(mod, fname))
        self._install_plancache()
        self._install_collect()
        self._install_exports()
        self._install_ingest()
        handler = self.server._server.RequestHandlerClass
        self._patch_attr(
            handler, "handle_one_request",
            self.span("api", handler.handle_one_request, _route),
        )

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)

    def _install_plancache(self) -> None:
        from shaper_spark import plancache

        orig = plancache.analyzed
        tracer = self

        def analyzed(spark, sql_text):
            hit = (id(spark), sql_text) in plancache._CACHE
            t0 = time.perf_counter()
            df = orig(spark, sql_text)
            if not hit:
                tracer.count("plancache.miss_s", time.perf_counter() - t0)
                tracer.count("plancache.misses", 1)
            tracer.count("plancache.lookups", 1)
            return df

        self._patch_everywhere("plancache", orig, analyzed)

    def _install_collect(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        orig = DataFrame.collect
        tracer = self

        def collect(df):
            in_render = tracer._in_render()
            jobs0 = tracer._dag.nextJobId() if in_render else 0
            rows = orig(df)
            if in_render:
                tracer.count("spark.jobs", tracer._dag.nextJobId() - jobs0)
                tracer.count("spark.rows", len(rows))
                tracer.count("spark.stmts", 1)
                tracer.count("spark.planning_ms", _planning_ms(df))
            return rows

        self._patch_attr(DataFrame, "collect", self.span("spark.collect", collect))

    def _install_exports(self) -> None:
        from shaper_spark import exports

        orig = exports.stream_csv
        tracer = self

        def stream_csv(df, writer):
            pos = writer.tell()
            t0 = time.perf_counter()
            n = orig(df, writer)
            tracer.count("exports.s", time.perf_counter() - t0)
            tracer.count("exports.bytes", writer.tell() - pos)
            return n

        self._patch_everywhere("exports.stream_csv", orig, stream_csv)

    def _install_ingest(self) -> None:
        from shaper_spark.ingest import IngestBuffer

        orig_flush = IngestBuffer.flush
        tracer = self

        def flush(buf):
            if not buf._buffer:  # the no-op flush after a batch flush
                return orig_flush(buf)
            t0 = time.perf_counter()
            try:
                return orig_flush(buf)
            finally:
                tracer.count("ingest.flush_s", time.perf_counter() - t0)
                tracer.count("ingest.flushes", 1)

        self._patch_attr(IngestBuffer, "flush", self.span("ingest.flush", flush))
        self._patch_attr(
            IngestBuffer, "ensure_table_schema",
            self.span("ingest.schema", IngestBuffer.ensure_table_schema),
        )

    # -- report ------------------------------------------------------------

    def report(self) -> dict:
        with self._lock:
            return {
                "totals": {k: list(v) for k, v in self.totals.items()},
                "counters": dict(self.counters),
            }


def _route(args) -> str:
    """``.render`` for a dashboard render request, ``.other`` else."""
    path = getattr(args[0], "path", "") or ""
    parts = path.split("?")[0].strip("/").split("/")
    if parts[:2] == ["api", "dashboards"] and len(parts) == 3:
        return ".render"
    return ".other"


def _planning_ms(df) -> float:
    """Sum of the QueryPlanningTracker phases of ``df``'s execution
    (parsing, analysis, optimization, planning), in ms."""
    try:
        text = df._jdf.queryExecution().tracker().phases().toString()
    except Exception:
        return 0.0
    return float(sum(int(e) - int(s) for _, s, e in _PHASE_RE.findall(text)))
