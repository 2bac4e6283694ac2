"""Capture .explain("formatted") output for named queries into
plans/<round>/<query>_<tag>.txt — a round's plan-diff evidence (plan
claims are checked against these files).

Usage: python tools/capture_plans.py <round> <tag> <query> [query ...]
  e.g. python tools/capture_plans.py r14 before containment_join
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from df_spark.plans.memo import clear_all_memos  # noqa: E402
from df_spark.queries import load_registry  # noqa: E402
from df_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    round_tag, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", round_tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture_plans", short_lived=True)
    registry = load_registry()
    for name in names:
        clear_all_memos()
        sdf = registry[name].fn(spark, sf_dir)
        plan = sdf._sc._jvm.PythonSQLUtils.explainString(
            sdf._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
