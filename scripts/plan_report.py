#!/usr/bin/env python
"""Generate PLANS.md: the physical-plan audit of every registered
query at sf0.001 — shuffle/join/codegen shape per operator, the
artifact behind 'explain and iterate until it's the plan you'd want'.

Run: python scripts/plan_report.py  (from the repo root)
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from covid_engineering_spark.plans import audit  # noqa: E402
from covid_engineering_spark.queries import registry  # noqa: E402
from covid_engineering_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark(app_name="plan-report", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, fn in sorted(registry().items()):
        try:
            a = audit(fn(spark, SF_DIR))
            rows.append(
                (
                    name,
                    len(a["pushed_filters"]),
                    a["broadcast_joins"],
                    a["sort_merge_joins"],
                    a["shuffles"],
                    a["codegen_stages"],
                    "yes" if a["cartesian"] else "",
                )
            )
        except Exception as exc:  # streaming-only / non-auditable paths
            rows.append((name, "-", "-", "-", "-", "-", f"({type(exc).__name__})"))

    with open("PLANS.md", "w") as f:
        f.write(
            "# Physical-plan audit (generated by scripts/plan_report.py)\n\n"
            "Every registered query at sf0.001, post-AQE. Columns: pushed\n"
            "filter groups at the scan, broadcast-hash joins, sort-merge\n"
            "joins, exchanges (shuffles), whole-stage-codegen spans in the\n"
            "final executed plan, cartesian products (must stay empty).\n\n"
            "| query | pushed | bhj | smj | shuffles | codegen | cartesian |\n"
            "|---|---|---|---|---|---|---|\n"
        )
        for r in rows:
            f.write("| " + " | ".join(str(x) for x in r) + " |\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
