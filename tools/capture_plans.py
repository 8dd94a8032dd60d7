"""Capture .explain("formatted") per HEADLINE query into plans/<ROUND>/.

Usage: python tools/capture_plans.py ROUND before|after [query ...]

Writes plans/<ROUND>/<query>_<tag>.txt (e.g. ROUND=r12) for every named
query (default: the whole bench HEADLINE list). Plans are captured at sf0.001 (plan shape is
scale-independent; AQE re-plans exchanges at runtime) with the same
session factory the bench uses, so join strategies and exchange counts
match what the bench times. These files are the optimization round's
before/after evidence — regenerate the *_after.txt set after the last
code change of the round.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_PLANS_SF", "/root/testdata/sf0.001")
PLANS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans")


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    from bench import HEADLINE

    from film_media_etl_spark.queries import all_queries
    from film_media_etl_spark.session import get_spark

    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        sys.exit(__doc__)
    round_, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or HEADLINE
    out_dir = os.path.join(PLANS_DIR, round_)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"capture-plans-{round_}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(formatted_plan(df))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
