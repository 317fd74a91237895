"""Server half of the benchmark: one ShaperServer in its own process.

Run as ``python3 perfbench/serve.py --run-dir D --sf-dir S --src C``
(C: the checkout whose ``shaper_spark`` is served).  It builds
the Spark session (the interactive serving profile), registers the
parquet tables under ``S`` as views, starts a ShaperServer with its
metastore file inside ``D`` and answers commands read from stdin, one
JSON object per line.  Every answer is one stdout line starting with
``@@ `` (other stdout lines are library noise and are ignored):

  {"cmd": "stamp"}        -> cores, defaultParallelism, versions
  {"cmd": "gc"}           -> JVM heap in use after System.gc() (MB)
                             and the GC rounds that took
  {"cmd": "rss"}          -> VmHWM of this Python process, MB
  {"cmd": "trace_on"}     -> patch the layer functions (tracing.py)
  {"cmd": "trace_pause"}  -> restore them; totals are kept
  {"cmd": "trace_report"} -> restore them and return the layer totals

The client ends it by killing its process group (run.py Server.stop).

The working directory is ``D``: the Spark warehouse, the metastore, the
ingest WAL and every temporary file of this process land there.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import sys
import time


def _reply(obj) -> None:
    sys.stdout.write("@@ " + json.dumps(obj) + "\n")
    sys.stdout.flush()


def _vmhwm_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--src", required=True, help="checkout root to import from")
    args = ap.parse_args()

    sys.path.insert(0, args.src)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    os.chdir(args.run_dir)

    from shaper_spark.api import ShaperServer
    from shaper_spark.session import (
        get_spark,
        interactive_session,
        register_sf_tables,
    )

    t0 = time.perf_counter()
    base = get_spark("perfbench")
    t1 = time.perf_counter()
    spark = interactive_session(base)
    register_sf_tables(spark, args.sf_dir)
    t2 = time.perf_counter()
    srv = ShaperServer(spark, db_path=os.path.join(args.run_dir, "meta.db"))
    srv.start()
    _reply({"port": srv.port, "session_s": t1 - t0, "tables_s": t2 - t1})

    tracer = None
    for line in sys.stdin:
        line = line.strip()
        if not line:
            continue
        cmd = json.loads(line)["cmd"]
        if cmd == "stamp":
            import duckdb
            import pyspark

            _reply({
                "cores": os.cpu_count(),
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "spark": pyspark.__version__,
                "duckdb": duckdb.__version__,
                "python": platform.python_version(),
            })
        elif cmd == "gc":
            # JVM objects stay reachable while Python still holds their
            # py4j proxies, and Spark's ContextCleaner frees broadcast and
            # shuffle blocks on its own thread only after a GC has
            # collected their owners: collect Python, then the JVM in
            # rounds (collect, give the cleaner 0.5 s, collect) until two
            # rounds agree within 1 MB.  After the prime pass of
            # dash_heavy the first round still held 200-300 MB of
            # broadcast blocks; the second had freed them (~73 MB).
            gc.collect()
            rt = spark._jvm.java.lang.Runtime.getRuntime()
            heaps: list[float] = []
            while len(heaps) < 2 or (
                abs(heaps[-2] - heaps[-1]) > 1.0 and len(heaps) < 8
            ):
                spark._jvm.java.lang.System.gc()
                time.sleep(0.5)
                spark._jvm.java.lang.System.gc()
                heaps.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
            _reply({"heap_mb": heaps[-1], "gc_rounds": len(heaps)})
        elif cmd == "rss":
            _reply({"vmhwm_mb": _vmhwm_mb()})
        elif cmd == "trace_on":
            if tracer is None:
                import tracing

                tracer = tracing.Tracer(spark, srv)
            tracer.install()
            _reply({"ok": True})
        elif cmd == "trace_pause":
            if tracer is not None:
                tracer.uninstall()
            _reply({"ok": True})
        elif cmd == "trace_report":
            tracer.uninstall()
            _reply(tracer.report())
        else:
            _reply({"error": f"unknown command {cmd}"})
    return 0


if __name__ == "__main__":
    sys.exit(main())
