"""Dump .explain('formatted') of the queries a change touches to
<dir>/<query>_<tag>.txt, so the before/after plans can be diffed.

    python tools/dump_round_plans.py <dir> before [names...]   # e.g. <dir> = plans/r16
    python tools/dump_round_plans.py <dir> after  [names...]

Run the `before` dump from a checkout of the parent commit and the
`after` dump from the changed tree. Default name set = the bench lists
(headline + heavy). Input SF is sf0.001 (plan SHAPE is SF-independent;
tiny SF keeps the dump cheap) — same convention as tools/dump_plans.py /
PLANS.md.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, HEAVY
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark import get_spark
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import (
    registry,
    release_persisted,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        sys.exit(__doc__)
    out_dir, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or (HEADLINE + HEAVY)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-round-plans")
    reg = registry()
    for name in names:
        df = reg[name].fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(f"# {name} ({tag}) — explain('formatted') at {SF_DIR}\n\n{plan}")
        release_persisted()
        print(f"wrote {name}_{tag}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
