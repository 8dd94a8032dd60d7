"""Sweep every registered query for silent whole-stage-codegen fallbacks.

Spark logs `ERROR CodeGenerator: Failed to compile the generated Java code`
(most commonly `Code grows beyond 64 KB`) and then *silently* executes the
stage interpreted — correctness is unaffected, throughput can drop an order
of magnitude on expression-heavy stages. Nothing in the query result or the
physical plan reveals the fallback, so it has to be caught from the JVM log.

This tool registers a log4j2 appender filter is overkill; instead we route
the JVM's stderr (where log4j2's console appender writes) through a file by
re-running ourselves in a subprocess with stderr captured, then attribute
each `Failed to compile` line to the query that was executing when it fired
(queries run strictly sequentially, each bracketed by a marker line printed
to stderr from the Python side).

Each query runs twice in a row. The tool prints, per query, how many
classes its second run compiled (the delta of Spark's CodegenMetrics
compile count). A query that compiles on its second run builds generated
code that differs from run to run, so Spark's codegen cache never serves
it and a long-lived session pays its compiles on every execution.

Usage:
    python tools/codegen_audit.py [--sf /root/testdata/sf0.001] [names ...]

Exit code 1 if any query triggered a fallback or raised; recompiles are
reported only. Codegen size is a property of the plan, not the data
volume, so the smallest SF is the default — the sweep is plan-coverage,
not a benchmark.
"""

from __future__ import annotations

import argparse
import os
import re
import subprocess
import sys


def child(sf_dir: str, names: list[str]) -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from film_media_etl_spark.queries import all_queries
    from film_media_etl_spark.session import get_spark

    spark = get_spark("codegen-audit", cpus=8)

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    qs = all_queries()
    todo = names or sorted(qs)
    for name in todo:
        # Marker to stderr so compile errors interleave attributably.
        print(f"@@QUERY {name}", file=sys.stderr, flush=True)
        try:
            qs[name](spark, sf_dir).count()
            # Second run: a fallback repeats here, so its log lines are
            # not attributed again.
            print("@@RERUN", file=sys.stderr, flush=True)
            before = compiles.getCount()
            qs[name](spark, sf_dir).count()
            print(f"@@RECOMPILED {name} {compiles.getCount() - before}", file=sys.stderr, flush=True)
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            print(f"@@ERROR {name} {type(exc).__name__}: {exc}", file=sys.stderr, flush=True)
    print("@@DONE", file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    if args.child:
        child(args.sf, args.names)
        return 0

    cmd = [sys.executable, os.path.abspath(__file__), "--child", "--sf", args.sf, *args.names]
    proc = subprocess.run(cmd, stderr=subprocess.PIPE, text=True, check=False)
    current = None
    fallbacks: dict[str, int] = {}
    recompiled: dict[str, int] = {}
    errors: list[str] = []
    for line in proc.stderr.splitlines():
        m = re.match(r"@@QUERY (\S+)", line)
        r = re.match(r"@@RECOMPILED (\S+) (\d+)", line)
        if m:
            current = m.group(1)
        elif line.startswith("@@RERUN"):
            current = None
        elif r:
            recompiled[r.group(1)] = int(r.group(2))
        elif line.startswith("@@ERROR"):
            errors.append(line[len("@@ERROR ") :])
        elif "CodeGenerator: Failed to compile" in line and current:
            fallbacks[current] = fallbacks.get(current, 0) + 1
    for name, cnt in sorted(recompiled.items()):
        print(f"RECOMPILED {name}: {cnt} class(es) on the second run")
    print(f"{sum(1 for c in recompiled.values() if c)} of {len(recompiled)} queries "
          f"recompiled on their second run ({sum(recompiled.values())} classes)")
    for name, cnt in sorted(fallbacks.items()):
        print(f"FALLBACK {name}: {cnt} failed compilation(s)")
    for e in errors:
        print(f"QUERY ERROR {e}")
    if not fallbacks and not errors:
        print("codegen audit clean: no interpreted-fallback stages")
    return 1 if (fallbacks or errors) else 0


if __name__ == "__main__":
    sys.exit(main())
