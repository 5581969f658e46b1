"""Dump `.explain("formatted")` physical plans at the plan gates' scale
factor (tests/conftest.py SF_SMALL, or $SPARK_GRAFT_SF_DIR) as
reviewable evidence of the scan pruning / join strategies /
aggregation shapes the engine promises.

Usage:
    python tools/dump_plans.py
        regenerate PLANS.md: the plan of every bench headline query
    python tools/dump_plans.py r12 before q1_pricing_summary ann_ivf_topk
    python tools/dump_plans.py r12 after  q1_pricing_summary
        write plans/<round>/<query>_<suffix>.txt per named query — the
        before/after plan evidence for an optimization round
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

from bench import HEADLINE  # noqa: E402
from conftest import SF_SMALL  # noqa: E402
from mapreduce_itwiki_spark.plans import catalog  # noqa: E402
from mapreduce_itwiki_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", SF_SMALL)

PLANS_MD_HEADER = [
    "# PLANS — physical plans of the bench headline queries\n",
    "Auto-generated by `tools/dump_plans.py` (sf0.001, local[4]; the\n"
    "plan SHAPE is scale-invariant even though sizes aren't). Things\n"
    "to look for: `PushedFilters`/`ReadSchema` on scans, broadcast vs\n"
    "sort-merge joins, partial+final `HashAggregate` pairs,\n"
    "`TakeOrderedAndProject` for top-k.\n",
]


def formatted_plan(spark, name: str) -> str:
    df = catalog.queries()[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


def main() -> None:
    if 1 < len(sys.argv) < 4:
        sys.exit(__doc__)
    spark = get_spark("plans", cpus=4)
    if len(sys.argv) == 1:
        out = PLANS_MD_HEADER + [
            f"\n## {name}\n\n```\n{formatted_plan(spark, name)}\n```\n"
            for name in HEADLINE
        ]
        with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
            f.write("".join(out))
        print("wrote PLANS.md")
    else:
        rnd, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
        out_dir = os.path.join(ROOT, "plans", rnd)
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(formatted_plan(spark, name) + "\n")
            print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
