"""Write BENCH/PLANS.md: each section of the plan-shape contract
(tests/test_plans.py) with its PASS/FAIL lines and its formatted plan.
Usage: SPARK_GRAFT_CPUS=4 python tools/explain_audit.py  (env SF_DIR picks
the data, as in the test). Exits 1 if any expectation fails.
"""

import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    from tests.test_plans import SECTIONS, SF_DIR, Plans, holds
    from yatsm_spark.conf import get_spark

    spark = get_spark()
    sections, fails = [], 0
    with tempfile.TemporaryDirectory(prefix="plans_") as work:
        plans = Plans(spark, SF_DIR, work)
        for section, checks in SECTIONS:
            plan = plans.section_plan(section)
            oks = [holds(plan, needle, want) for _, needle, want in checks]
            fails += oks.count(False)
            sections.append(f"## {section}\n\n" + "\n".join(
                f"- {'PASS' if ok else '**FAIL**'}: {label}"
                for ok, (label, _, _) in zip(oks, checks)) +
                "\n\n```\n" + plan[:4000] + "\n```\n")
    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as f:
        f.write("# PLANS — physical-plan audit (tools/explain_audit.py)\n\n"
                "Checks the plan properties that decide 100 TB behavior: pushdown,\n"
                "pruning, partial aggregation, join strategy, codegen coverage.\n"
                f"Captured at {spark.sparkContext.master} on "
                f"{os.path.basename(SF_DIR.rstrip('/'))}.\n\n" + "\n".join(sections))
    print(f"wrote BENCH/PLANS.md, {fails} failed expectations")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
