"""Traced-run instrumentation.

Two sources, both active only when a run is started with ``--trace 1``:

- **Spans** that this module wraps around the engine's public calls:
  ``build_star`` (with its memo hit or miss), the ``etl.star`` builders and
  ``DataFrameWriter.parquet``. The runner adds spans around each query
  function call and each noop save itself.
- **Spark's event log**, switched on when the session is launched. Each
  timed op runs under its own job group, which labels its jobs in the log.
  Ops run one at a time on one thread, so every job and stage submitted
  inside an op's wall-clock window belongs to that op; attribution uses
  the window because jobs submitted from ``build_star``'s thread pool do
  not inherit the group, and because the group stays set on the thread
  after the op ends.

``median_layers`` folds both into per-pass sums and reports the median
over the timed passes.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import statistics
import sys
import time

STAR_BUILDERS = (
    "build_dim_date", "build_dim_customer", "build_dim_location",
    "build_dim_product", "fact_index_stats", "prepare_global_index",
    "build_fact_sales", "build_sales_summary",
)


class Spans:
    """Thread-safe list of ``(kind, name, t0, t1)`` in epoch seconds."""

    def __init__(self) -> None:
        self.items: list[tuple[str, str, float, float]] = []

    def add(self, kind: str, name: str, t0: float, t1: float) -> None:
        self.items.append((kind, name, t0, t1))

    def wrap(self, kind: str, fn, name_of=lambda *a, **k: ""):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.add(kind, name_of(*args, **kwargs), t0, time.time())

        return wrapped

    def within(self, t0: float, t1: float, kind: str):
        return [s for s in self.items if s[0] == kind and t0 <= s[2] <= t1]


def _replace_everywhere(orig, new) -> None:
    """Rebind every module attribute that refers to ``orig``: modules that
    did ``from ..etl.star import build_star`` hold their own reference."""
    for mod in list(sys.modules.values()):
        for attr, val in list(getattr(mod, "__dict__", {}).items()):
            if val is orig:
                setattr(mod, attr, new)


def install(spans: Spans) -> None:
    """Wrap build_star, the etl.star builders and DataFrameWriter.parquet."""
    from pyspark.sql.readwriter import DataFrameWriter

    from film_media_etl_spark.etl import star

    for name in STAR_BUILDERS:
        orig = getattr(star, name)
        _replace_everywhere(orig, spans.wrap(f"star.{name}", orig))

    build_star = star.build_star

    @functools.wraps(build_star)
    def traced_build_star(spark, sf_dir, **kwargs):
        before = len(star._STAR_CACHE)
        t0 = time.time()
        out = build_star(spark, sf_dir, **kwargs)
        spans.add("build_star", "miss" if len(star._STAR_CACHE) > before else "hit", t0, time.time())
        return out

    _replace_everywhere(build_star, traced_build_star)
    DataFrameWriter.parquet = spans.wrap(
        "parquet", DataFrameWriter.parquet,
        lambda self, path, *a, **k: os.path.basename(str(path).rstrip("/")),
    )


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def _log_files(log_dir: str) -> list[str]:
    """Event log parts in write order (Spark 4 rolls the log into
    ``eventlog_v2_<app>/events_<n>_<app>``; a plain log is one file)."""
    files = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    ]

    def part(p: str) -> tuple[str, int]:
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return os.path.dirname(p), int(m.group(1)) if m else 0

    return sorted(files, key=part)


def read_event_log(log_dir: str) -> dict:
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    tasks: list[dict] = []
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {"submit": e["Submission Time"]}
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                        "submit": info.get("Submission Time"),
                    }
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    st = stages.setdefault((info["Stage ID"], info["Stage Attempt ID"]), {})
                    st["submit"] = info.get("Submission Time", st.get("submit"))
                    st["complete"] = info.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    tasks.append({
                        "stage": (e["Stage ID"], e["Stage Attempt ID"]),
                        "ok": (e.get("Task End Reason") or {}).get("Reason") == "Success",
                        "m": e.get("Task Metrics") or {},
                    })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _owner(ops: list[dict], t_ms: float | None) -> dict | None:
    """The op whose wall-clock window holds ``t_ms`` (epoch ms)."""
    if t_ms is None:
        return None
    return next((op for op in ops if op["t0"] * 1000 <= t_ms <= op["t1"] * 1000), None)


def _idle_seconds(t0: float, t1: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [t0, t1] not covered by any interval (all in seconds)."""
    busy, cur = 0.0, t0
    for a, b in sorted((max(a, t0), min(b, t1)) for a, b in intervals):
        if b <= cur:
            continue
        busy += b - max(a, cur)
        cur = b
    return max(0.0, (t1 - t0) - busy)


EXEC_KEYS = (
    "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
    "exec.sched_idle_s", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
    "exec.deser_s", "exec.peak_exec_mem_mb", "shuffle.write_bytes",
    "shuffle.read_bytes", "shuffle.fetch_wait_s", "spill.disk_bytes",
    "sources.bytes_read", "sources.records_read", "queries.eager_jobs",
)


def attribute(log: dict, ops: list[dict]) -> None:
    """Add the event-log counters of each op to ``op["exec"]``."""
    for op in ops:
        op["exec"] = dict.fromkeys(EXEC_KEYS, 0.0)
        op["_stage_spans"] = []
    for job in log["jobs"].values():
        op = _owner(ops, job["submit"])
        if op is None:
            continue
        op["exec"]["exec.jobs"] += 1
        f0, f1 = op.get("fn", (None, None))
        if f0 is not None and f0 * 1000 <= job["submit"] <= f1 * 1000:
            op["exec"]["queries.eager_jobs"] += 1
    stage_owner = {}
    for key, st in log["stages"].items():
        op = _owner(ops, st.get("submit"))
        stage_owner[key] = op
        if op is None or st.get("complete") is None:
            continue
        op["exec"]["exec.stages"] += 1
        op["_stage_spans"].append((st["submit"] / 1000, st["complete"] / 1000))
    for t in log["tasks"]:
        op = stage_owner.get(t["stage"])
        if op is None:
            continue
        m, x = t["m"], op["exec"]
        sr = m.get("Shuffle Read Metrics") or {}
        x["exec.tasks"] += 1
        x["exec.failed_tasks"] += 0 if t["ok"] else 1
        x["exec.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
        x["exec.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        x["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        x["exec.deser_s"] += m.get("Executor Deserialize Time", 0) / 1e3
        peak = max(
            m.get("Peak Execution Memory", 0),
            m.get("Peak On Heap Execution Memory", 0) + m.get("Peak Off Heap Execution Memory", 0),
        )
        x["exec.peak_exec_mem_mb"] = max(x["exec.peak_exec_mem_mb"], peak / 2**20)
        x["shuffle.write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        x["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        x["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        x["spill.disk_bytes"] += m.get("Disk Bytes Spilled", 0)
        x["sources.bytes_read"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        x["sources.records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    for op in ops:
        op["exec"]["exec.sched_idle_s"] = _idle_seconds(op["t0"], op["t1"], op.pop("_stage_spans"))


def _phase_wall(spans: list) -> float:
    return max(s[3] for s in spans) - min(s[2] for s in spans) if spans else 0.0


def pass_layers(p: dict, spans: Spans) -> dict[str, float]:
    """Per-layer totals of one timed pass. Each ``*_s`` phase wall also
    gets a ``*_share`` of its parent wall (the pass for the query
    functions, the ``build_star`` calls for the star phases), which reads
    0 where the workload has no such phase."""
    out = dict.fromkeys(EXEC_KEYS, 0.0)
    for op in p["ops"]:
        for k, v in op.get("exec", {}).items():
            out[k] = max(out[k], v) if k == "exec.peak_exec_mem_mb" else out[k] + v
    out["queries.build_s"] = sum(op["fn"][1] - op["fn"][0] for op in p["ops"] if "fn" in op)
    out["queries.build_share"] = out["queries.build_s"] / p["s"]
    writes = spans.within(p["t0"], p["t1"], "parquet")
    out["star.dims_s"] = _phase_wall([s for s in writes if s[1].startswith("dim_")])
    out["star.fact_write_s"] = _phase_wall([s for s in writes if s[1] == "fact_sales"])
    out["star.index_stats_s"] = sum(
        s[3] - s[2] for s in spans.within(p["t0"], p["t1"], "star.prepare_global_index")
    )
    build_s = sum(op["s"] or 0.0 for op in p["ops"] if op["name"] == "build_star")
    for phase in ("dims", "index_stats", "fact_write"):
        out[f"star.{phase}_share"] = out[f"star.{phase}_s"] / build_s if build_s else 0.0
    return out


def median_layers(passes: list[dict], spans: Spans) -> dict[str, float]:
    per_pass = [pass_layers(p, spans) for p in passes]
    return {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}


def memo_hit_ratio(spans: Spans, passes: list[dict]) -> float:
    """build_star calls served from the memo over all calls made inside
    the timed passes; 0.0 when they made none."""
    calls = [s for p in passes for s in spans.within(p["t0"], p["t1"], "build_star")]
    return sum(1 for s in calls if s[1] == "hit") / len(calls) if calls else 0.0
