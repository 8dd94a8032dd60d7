"""Compare two bench JSON outputs with noise awareness: a per-query
delta only counts as a regression/improvement when it exceeds the
larger of the two runs' recorded spreads (max-min over reps) — the
round-1/round-2 comparison was uninterpretable precisely because
single-sample deltas were read as signal.

Records from different core counts or bench harnesses are never
compared: if both records carry ``cpus`` (or both carry ``bench_sha``)
and the values differ, the tool refuses with exit code 2. A record that
lacks either field gets a warning, and the comparison goes on.

Usage: python tools/bench_compare.py OLD.json NEW.json
Accepts either bench.py's raw JSON line or the driver's BENCH_r*.json
wrapper ({"cpus": N, "parsed": {...}}).
"""

from __future__ import annotations

import json
import sys


PROVENANCE = ("cpus", "bench_sha")


def load(path: str) -> dict:
    with open(path) as f:
        txt = f.read()
    # driver wrapper or raw line
    d = json.loads(txt if txt.lstrip().startswith("{") else txt.splitlines()[-1])
    # the wrapper can carry "parsed": null when its parse failed; it
    # records cpus itself, outside the parsed line
    rec = d.get("parsed") or d
    return {**{k: d[k] for k in PROVENANCE if d.get(k) is not None}, **rec}


def main() -> int:
    old, new = load(sys.argv[1]), load(sys.argv[2])
    for key in PROVENANCE:
        a, b = old.get(key), new.get(key)
        if a is None or b is None:
            missing = " and ".join(p for p, v in zip(sys.argv[1:3], (a, b)) if v is None)
            print(f"warning: {missing} lacks {key!r}; cannot check that the records match",
                  file=sys.stderr)
        elif a != b:
            print(f"refusing to compare: {key} differs ({a} vs {b})", file=sys.stderr)
            return 2
    oq, nq = old.get("queries", {}), new.get("queries", {})
    osp, nsp = old.get("spread", {}), new.get("spread", {})
    print(f"total: {old.get('value')}s -> {new.get('value')}s")
    rows = []
    for name in sorted(set(oq) & set(nq)):
        delta = nq[name] - oq[name]
        noise = max(osp.get(name, 0.0), nsp.get(name, 0.0))
        if abs(delta) > noise and abs(delta) > 0.05:
            rows.append((delta, name, oq[name], nq[name], noise))
    for delta, name, o, n, noise in sorted(rows):
        tag = "improved " if delta < 0 else "REGRESSED"
        print(f"{tag} {name}: {o:.2f} -> {n:.2f} (delta {delta:+.2f}, noise {noise:.2f})")
    only_new = sorted(set(nq) - set(oq))
    if only_new:
        print("new queries:", ", ".join(only_new))
    print(f"{sum(1 for d, *_ in rows if d > 0)} regressions beyond noise, "
          f"{sum(1 for d, *_ in rows if d < 0)} improvements beyond noise")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
