"""Memory-bounded suite run (round-3 verdict #5): 128 GiB hides spill
behavior; a 100 TB cluster will not. Run the headline suite in a JVM
squeezed hard enough that the big sorts/joins/aggregations MUST spill,
verify every query still completes, and report per-query spill volumes
from the Spark event log (the UI is disabled, so the log is the one
place task metrics survive).

Usage: [SPARK_GRAFT_SF_DIR=...] python tools/spill_probe.py [driver_mem] [mem_fraction]

Knob separation matters: spark.memory.fraction is what forces operators
onto their spill paths (it bounds the unified execution+storage region),
while driver_mem must stay big enough that plain object churn doesn't
GC-thrash the JVM to death — a 4g heap at the 16x corpus died mid-suite
from GC pressure long before any operator spilled. 8g + fraction 0.05
(=400MB execution region shared by 32 tasks, ~12MB each) is the
combination that actually exercises spills on the big sorts/joins.

Prints one JSON line:
  {"driver_memory": "...", "sf_dir": "...", "completed": N, "failed": [...],
   "total_spill_disk_mb": X, "total_spill_mem_mb": Y,
   "queries": {name: {"sec": t, "spill_disk_mb": d, "spill_mem_mb": m}}}
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import shlex
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVENT_DIR = "/tmp/spark-events-spillprobe"


def _session(driver_mem: str, mem_fraction: str):
    """The engine session (session.get_spark) on a fresh JVM with the
    probe's static confs: they only take effect at JVM launch, so they
    go through PYSPARK_SUBMIT_ARGS and the heap through
    SPARK_GRAFT_DRIVER_MEM."""
    from film_media_etl_spark.session import get_spark

    os.makedirs(EVENT_DIR, exist_ok=True)
    conf = {
        # squeeze the unified memory region so execution memory runs out
        # early and operators exercise their spill paths
        "spark.memory.fraction": mem_fraction,
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": EVENT_DIR,
        # single plain-text log named by app id (rolling writes a v2
        # directory the parser would have to chase)
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }
    args = [x for k, v in conf.items() for x in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*args, "pyspark-shell"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    return get_spark("spill-probe")


def _spills_by_stage(log_path: str) -> dict[int, tuple[int, int]]:
    """stage_id -> (memory_bytes_spilled, disk_bytes_spilled) summed."""
    opener = gzip.open if log_path.endswith(".gz") else open
    out: dict[int, list[int]] = {}
    with opener(log_path, "rt", errors="replace") as f:
        for line in f:
            if '"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            m = (ev.get("Task Metrics") or {})
            sid = ev.get("Stage ID")
            acc = out.setdefault(sid, [0, 0])
            acc[0] += m.get("Memory Bytes Spilled", 0)
            acc[1] += m.get("Disk Bytes Spilled", 0)
    return {k: (v[0], v[1]) for k, v in out.items()}


def _respawn(driver_mem: str, mem_fraction: str):
    """Rebuild the session after a query OOM-killed the local JVM — one
    boundary query must not shadow the rest of the suite's measurements
    (the 16x PassJoin cascade: 1 real OOM read as 21 failures). Dropping
    the cached py4j gateway makes the next builder launch a fresh JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    SparkContext._active_spark_context = None
    SparkContext._gateway = None
    SparkContext._jvm = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None
    return _session(driver_mem, mem_fraction)


def main() -> None:
    driver_mem = sys.argv[1] if len(sys.argv) > 1 else "8g"
    mem_fraction = sys.argv[2] if len(sys.argv) > 2 else "0.05"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import HEADLINE

    from film_media_etl_spark.queries import all_queries

    spark = _session(driver_mem, mem_fraction)
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    qs = all_queries()

    results: dict[str, dict] = {}
    failed: list[str] = []
    stage_watermark = 0

    def stages_done() -> dict[int, tuple[int, int]]:
        # event log flushes continuously; re-parse after each query
        logs = [
            f
            for f in glob.glob(os.path.join(EVENT_DIR, f"*{app_id}*"))
            if os.path.isfile(f) and not f.endswith(".inprogress.crc")
        ]
        return _spills_by_stage(logs[0]) if logs else {}

    for name in HEADLINE:
        t0 = time.perf_counter()
        try:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            sec = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 — report, keep probing
            failed.append(name)
            print(f"FAILED {name}: {exc}", file=sys.stderr)
            spark = _respawn(driver_mem, mem_fraction)
            spark.sparkContext.setLogLevel("ERROR")
            app_id = spark.sparkContext.applicationId
            stage_watermark = 0
            continue
        spills = stages_done()
        new = {k: v for k, v in spills.items() if k >= stage_watermark}
        stage_watermark = max(spills, default=stage_watermark - 1) + 1
        results[name] = {
            "sec": round(sec, 3),
            "spill_mem_mb": round(sum(v[0] for v in new.values()) / 2**20, 1),
            "spill_disk_mb": round(sum(v[1] for v in new.values()) / 2**20, 1),
        }

    print(
        json.dumps(
            {
                "driver_memory": driver_mem,
                "memory_fraction": float(mem_fraction),
                "sf_dir": sf_dir,
                "completed": len(results),
                "failed": failed,
                "total_spill_mem_mb": round(
                    sum(r["spill_mem_mb"] for r in results.values()), 1
                ),
                "total_spill_disk_mb": round(
                    sum(r["spill_disk_mb"] for r in results.values()), 1
                ),
                "queries": results,
            }
        )
    )


if __name__ == "__main__":
    main()
