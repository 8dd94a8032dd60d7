"""The two workloads: set-up, timed passes and correctness gate.

- ``warehouse``: each pass clears the ``build_star`` memo, rebuilds and
  writes the whole star warehouse (the write path), then runs the flagship
  query and the 15 reports over it (the read path, memo hits).
- ``corpus_curation``: each pass runs six dedup, quality and search ops
  over the documents table, each twice. It builds no warehouse.

Set-up ends with one untimed warm-up pass: a warehouse build plus, for the
query ops, the gate's execution, whose output is collected and compared to
its oracle after the timed passes; every timed execution must reproduce its
fingerprint. The seed shuffles the query order of every pass. All ops run
on the calling thread, one at a time, and every timed query op is executed
through the ``noop`` sink.

Each op and each pass records its wall time and the CPU time of the whole
process tree (this process, the JVM, the Python workers).
"""

from __future__ import annotations

import os
import random
import statistics
import time

from pyspark.sql import Observation

from .gate import canonical_hash, fingerprint, fingerprint_exprs, oracle_hashes

# ext_curation_pipeline is left out: its first execution in a fresh JVM
# alone takes ~12 s, which the per-run time budget cannot carry. Its
# repetition and exact-dedup gates are measured through
# ext_repetition_signals and ext_dedup_exact.
CORPUS_OPS = (
    "ext_dedup_exact", "ext_dedup_minhash_survivors", "ext_dedup_substring",
    "ext_repetition_signals", "ext_unigram_tokenize", "ext_bm25_search",
)
STAR_TABLES = (
    "dim_date", "dim_customer", "dim_location", "dim_product", "fact_sales",
    "sales_summary",
)
# Source tables build_star reads; their bytes are the denominator of
# star.stored_bytes_ratio.
STAR_SOURCES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
WORKLOADS = ("warehouse", "corpus_curation")
# How many times a pass runs each query op. A run has time for one pass,
# and a corpus op's CPU time varies by up to 20 % from one execution to
# the next while the JIT is still compiling, so a corpus pass takes two
# samples of each; the warehouse pass already holds 16 query ops.
ROUNDS = {"warehouse": 1, "corpus_curation": 2}

_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` (default: this process) and
    all its live descendants, including what they reaped from exited
    children. Time stolen by the hypervisor is not in it."""
    root = root or os.getpid()
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we listed
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total / _TICK


def jit_cpu_s(jvm_pid: int) -> float:
    """User + system CPU seconds of the JIT compiler threads of a JVM
    started with -XX:-UseDynamicNumberOfCompilerThreads, so that no
    compiler thread exits and takes its count with it."""
    total = 0
    task_dir = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we listed
            continue
        name = stat[stat.index("(") + 1:stat.rfind(")")]
        if "CompilerThre" in name:
            total += sum(int(x) for x in stat[stat.rfind(")") + 2:].split()[11:13])
    return total / _TICK


def query_ops(workload: str, names) -> tuple[str, ...]:
    if workload == "corpus_curation":
        return CORPUS_OPS
    reports = sorted(n for n in names if n.startswith("report_r"))
    if len(reports) != 15:
        raise RuntimeError(f"expected the 15 report_r* queries, found {len(reports)}")
    return ("flagship_revenue_by_year", *reports)


def _corrupted(fn):
    """Wrap a query so its FIRST output (the gate's execution) carries one
    duplicated row. Both gate checks must catch it: the oracle comparison,
    and the fingerprint of every later, clean execution."""
    calls = []

    def wrapped(spark, sf_dir):
        df = fn(spark, sf_dir)
        calls.append(1)
        return df.unionByName(df.limit(1)) if len(calls) == 1 else df

    return wrapped


def _warehouse(tables) -> tuple[int, int]:
    """(files, bytes) of the parquet files behind the built star tables."""
    files = {f for df in tables.values() for f in df.inputFiles()}
    paths = [f.removeprefix("file://").removeprefix("file:") for f in files]
    return len(paths), sum(os.path.getsize(p) for p in paths)


class Runner:
    def __init__(self, spark, workload: str, data_dir: str, seed: int, *,
                 spans=None, corrupt: tuple[str, ...] = ()):
        from film_media_etl_spark.etl import star
        from film_media_etl_spark.queries import all_queries

        self.spark, self.workload, self.data_dir = spark, workload, data_dir
        self.star = star
        self.builds = workload == "warehouse"
        self.spans = spans  # None when untraced
        self.rnd = random.Random(seed)
        self.qs = all_queries()
        self.ops = query_ops(workload, self.qs)
        for name in corrupt:
            self.qs[name] = _corrupted(self.qs[name])
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        self.reference: dict[str, dict] = {}  # op -> gate execution's output
        self.errors: dict[str, str] = {}      # op -> first gate failure
        self.passes: list[dict] = []

    def cpu_s(self) -> float:
        """CPU seconds of the process tree so far, less the JVM's JIT
        compiler threads: compilation is warm-up that a long-lived JVM does
        not repeat, and how much of it lands in a pass varies from run to
        run."""
        return tree_cpu_s() - self.jit_s()

    def jit_s(self) -> float:
        """CPU seconds of the JVM's JIT compiler threads so far."""
        return jit_cpu_s(self.jvm_pid)

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        """Everything before the first timed pass except the session."""
        if self.builds:
            self.star.build_star(self.spark, self.data_dir)
        for name in self.rnd.sample(self.ops, len(self.ops)):
            self._gate_execution(name)

    def _gate_execution(self, name: str) -> None:
        try:
            obs = Observation()
            df = self.qs[name](self.spark, self.data_dir)
            rows = df.observe(obs, *fingerprint_exprs(df)).collect()
            self.reference[name] = {
                "fp": tuple(obs.get.values()),
                "hash": canonical_hash(df.columns, rows),
            }
        except Exception as e:  # noqa: BLE001 - a gate failure, not a crash
            self.errors.setdefault(name, f"gate execution raised {type(e).__name__}: {e}"[:300])

    # -- timed passes --------------------------------------------------------

    def timed(self, seconds: float) -> None:
        start = time.perf_counter()
        while True:
            self._pass()
            if time.perf_counter() - start >= seconds:
                break

    def _pass(self) -> None:
        n = len(self.passes)
        p = {"t0": time.time(), "ops": []}
        p0, c0, j0 = time.perf_counter(), self.cpu_s(), self.jit_s()
        if self.builds:
            p["ops"].append(self._build_op(n))
        rounds = self.ops * ROUNDS[self.workload]
        for name in self.rnd.sample(rounds, len(rounds)):
            p["ops"].append(self._query_op(name, n))
        p["s"], p["cpu_s"] = time.perf_counter() - p0, self.cpu_s() - c0
        p["jit_s"] = self.jit_s() - j0
        p["t1"] = time.time()
        self.passes.append(p)
        if self.builds:
            # untimed: the warehouse this pass wrote, and its fingerprint
            op = p["ops"][0]
            op["files"], op["bytes"] = _warehouse(self.star.build_star(self.spark, self.data_dir))
            op["fp"] = tuple(fingerprint(self._star_table(t)) for t in STAR_TABLES)

    def _star_table(self, table: str):
        """A memoized warehouse table through its registry query, which
        casts decimal columns to double as the oracle does."""
        return self.qs[f"star_{table}"](self.spark, self.data_dir)

    def _start(self, name: str, n: int) -> dict:
        op = {"name": name, "group": f"pass{n}:{name}", "s": None}
        if self.spans is not None:
            self.spark.sparkContext.setJobGroup(op["group"], op["group"])
        op["t0"] = time.time()
        return op

    def _end(self, op: dict, p0: float, c0: float) -> None:
        op["s"], op["cpu_s"] = time.perf_counter() - p0, self.cpu_s() - c0

    def _build_op(self, n: int) -> dict:
        self.star._STAR_CACHE.clear()
        op = self._start("build_star", n)
        p0, c0 = time.perf_counter(), self.cpu_s()
        try:
            self.star.build_star(self.spark, self.data_dir)
            self._end(op, p0, c0)
        except Exception as e:  # noqa: BLE001
            op["error"] = f"{type(e).__name__}: {e}"[:300]
        op["t1"] = time.time()
        return op

    def _query_op(self, name: str, n: int) -> dict:
        op = self._start(name, n)
        p0, c0 = time.perf_counter(), self.cpu_s()
        try:
            obs = Observation()
            df = self.qs[name](self.spark, self.data_dir)
            if self.spans is not None:
                op["fn"] = (op["t0"], time.time())
            df.observe(obs, *fingerprint_exprs(df)).write.mode("overwrite").format("noop").save()
            self._end(op, p0, c0)
            if self.spans is not None:
                self.spans.add("noop_save", name, op["fn"][1], time.time())
            op["fp"] = tuple(obs.get.values())
        except Exception as e:  # noqa: BLE001
            op["error"] = f"{type(e).__name__}: {e}"[:300]
        op["t1"] = time.time()
        return op

    # -- gate ----------------------------------------------------------------

    def gate(self) -> None:
        """Oracle comparison plus the fingerprint check of every timed
        execution; fills ``self.errors`` and each op's ``ok`` flag."""
        from film_media_etl_spark.queries import all_oracles

        checked = list(self.ops)
        if self.builds:
            last_fp = []
            for t in STAR_TABLES:
                obs = Observation()
                df = self._star_table(t)
                rows = df.observe(obs, *fingerprint_exprs(df)).collect()
                self.reference[f"star_{t}"] = {"hash": canonical_hash(df.columns, rows)}
                last_fp.append(tuple(obs.get.values()))
            self.reference["build_star"] = {"fp": tuple(last_fp)}
            checked += [f"star_{t}" for t in STAR_TABLES]
        oracles = all_oracles()
        sqls = {n: oracles[n] for n in checked if n in oracles and n in self.reference}
        for name, want in oracle_hashes(self.data_dir, sqls).items():
            got = self.reference[name]["hash"]
            self.reference[name]["oracle"] = want
            if want != got:
                self.errors.setdefault(name, f"oracle mismatch: spark {got} vs duckdb {want}")
        if self.builds:
            bad = [t for t in STAR_TABLES if f"star_{t}" in self.errors]
            if bad:
                self.errors.setdefault("build_star", f"warehouse tables fail the oracle: {bad}")
        for p in self.passes:
            for op in p["ops"]:
                ref = self.reference.get(op["name"], {}).get("fp")
                if "error" in op:
                    reason = op["error"]
                elif ref is None or op["fp"] != ref:
                    reason = f"output fingerprint {op.get('fp')} differs from the checked {ref}"
                else:
                    reason = self.errors.get(op["name"])
                op["ok"] = reason is None
                if reason:
                    self.errors.setdefault(op["name"], reason)

    # -- results -------------------------------------------------------------

    def op_samples(self, key: str) -> list[float]:
        """``key`` ("s" or "cpu_s") of every op that completed."""
        return [op[key] for p in self.passes for op in p["ops"] if op["s"] is not None]

    def per_op_median(self, key: str) -> dict[str, float]:
        out: dict[str, list[float]] = {}
        for p in self.passes:
            for op in p["ops"]:
                if op["s"] is not None:
                    out.setdefault(op["name"], []).append(op[key])
        return {k: statistics.median(v) for k, v in out.items()}

    def counts(self) -> tuple[int, int]:
        ops = [op for p in self.passes for op in p["ops"]]
        return len(ops), sum(1 for op in ops if not op.get("ok"))
