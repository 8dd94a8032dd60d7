"""Generate PLANS.md: the formatted physical plan of every headline
query at sf0.001, plus the scale-relevant line items (pushed filters,
read schemas, join strategies, exchange census) extracted per query.

This is the ".explain and iterate" evidence trail: the plan each
operator actually produces, committed next to the code so a reviewer
can check that filters reach the scan, dimensions broadcast, and no
operator collapses to a single partition — without running anything.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from capture_plans import formatted_plan, normalize_plan  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_PLANS_SF", "/root/testdata/sf0.001")


def plan_tree(plan: str) -> str:
    """The operator tree of a formatted plan (its first section, without
    the per-node details), normalized as tools/capture_plans does."""
    return normalize_plan(plan.split("\n\n")[0].strip())


def main() -> None:
    from bench import HEADLINE

    from film_media_etl_spark.plans import plan_summary
    from film_media_etl_spark.queries import all_queries
    from film_media_etl_spark.session import get_spark

    spark = get_spark("gen-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    lines = [
        "# PLANS — physical plans of the bench headline suite",
        "",
        f"Generated by `tools/gen_plans.py` at `{SF_DIR}` (plan shapes are",
        "scale-independent; AQE may re-plan exchanges at runtime). For each",
        "query: the operator census the plan audits assert on, then the",
        "formatted plan. Regenerate after any operator change.",
        "",
    ]
    for name in HEADLINE:
        df = qs[name](spark, SF_DIR)
        s = plan_summary(df)
        plan = formatted_plan(df)
        census = ", ".join(f"{k}={v}" for k, v in s.items() if v)
        lines += [
            f"## {name}",
            "",
            f"`{census}`",
            "",
            "```",
            plan_tree(plan),
            "```",
            "",
        ]
        pushed = sorted(set(re.findall(r"PushedFilters: \[[^\]]*\]", plan)))
        if pushed:
            lines += ["Pushed filters:", ""]
            lines += [f"- `{p}`" for p in pushed]
            lines += [""]

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}: {len(HEADLINE)} plans")


if __name__ == "__main__":
    main()
