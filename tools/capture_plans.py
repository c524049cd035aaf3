"""Capture .explain("formatted") for catalog entries into plans/r16/.

Usage:
    python tools/capture_plans.py <suffix> [--no-aqe] [query ...]

Writes plans/r16/<query>_<suffix>.txt for each requested entry (all
headline + graded entries when none named). Driver-only — builds the
DataFrame and renders the plan, never executes a job, so it is cheap
and safe to run alongside other work.

``--no-aqe`` renders with spark.sql.adaptive.enabled=false so that
exchange reuse is visible in the capture: a pre-execution
AdaptiveSparkPlan tree cannot show ReusedExchange (reuse happens at
execution), which made the r15 dedup/sketch-tier after-captures unable
to substantiate the "one fingerprint pass" claim the executing test
pins (VERDICT r15 item 9). The rendered static plan is what the
non-adaptive planner would run; the adaptive plan differs only by the
AQE wrapper and runtime re-optimization.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
OUT = os.path.join(REPO, "plans", "r16")


def main() -> None:
    args = sys.argv[1:]
    no_aqe = "--no-aqe" in args
    args = [a for a in args if a != "--no-aqe"]
    suffix = args[0] if args else "before"
    names = args[1:]

    from idb_backend_spark.plans.catalog import Q, UNGRADED
    from idb_backend_spark.session import get_spark

    runnable = {**Q, **UNGRADED}
    if not names:
        names = list(runnable)
    os.makedirs(OUT, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("idb-backend-spark-plans")
    spark.sparkContext.setLogLevel("ERROR")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    if no_aqe:
        spark.conf.set("spark.sql.adaptive.enabled", "false")

    try:
        for name in names:
            try:
                df = runnable[name](spark, sf_dir)
                plan = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
            except Exception as e:  # keep going; record the failure
                plan = f"ERROR building plan: {e!r}\n"
            path = os.path.join(OUT, f"{name}_{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"wrote {path} ({len(plan)} chars)")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


if __name__ == "__main__":
    main()
