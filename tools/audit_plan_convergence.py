"""Catalog-wide Catalyst convergence audit (r14): build every
``queries()``/UNGRADED plan, force optimization, and report each
entry's worst per-rule effective-invocation count from the
QueryPlanningTracker. The r13 `Max iterations (100)` cycle showed up
here as ~200 effective firings of PushDownLeftSemiAntiJoin /
ColumnPruning; a healthy plan stays in single digits. Anything above
the watch threshold is a latent fixpoint risk that a BIGGER
composition at 100× could push over the iteration ceiling.

Usage: python tools/audit_plan_convergence.py [sf_dir] [threshold]
"""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def effective_rule_counts(df):
    qe = df._jdf.queryExecution()
    qe.optimizedPlan()
    it = qe.tracker().rules().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        n = kv._2().numEffectiveInvocations()
        if n:
            out[kv._1().rsplit(".", 1)[-1]] = n
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    threshold = int(sys.argv[2]) if len(sys.argv) > 2 else 20

    from idb_backend_spark.plans.catalog import Q, UNGRADED
    from idb_backend_spark.session import get_spark

    spark = get_spark("plan-convergence-audit")
    spark.sparkContext.setLogLevel("ERROR")

    worst = []
    failed = []
    for name, fn in {**Q, **UNGRADED}.items():
        try:
            counts = effective_rule_counts(fn(spark, sf_dir))
        except Exception:
            failed.append((name, traceback.format_exc(limit=1)))
            continue
        if counts:
            rule, n = max(counts.items(), key=lambda kv: kv[1])
            worst.append((n, name, rule))
    worst.sort(reverse=True)
    print(f"{'n_eff':>6}  {'entry':<36} worst rule")
    for n, name, rule in worst[:15]:
        flag = "  <-- WATCH" if n > threshold else ""
        print(f"{n:>6}  {name:<36} {rule}{flag}")
    over = [w for w in worst if w[0] > threshold]
    print(f"\n{len(worst)} plans audited, {len(over)} over threshold "
          f"{threshold}, {len(failed)} failed to build")
    for name, tb in failed:
        print(f"FAILED {name}: {tb.splitlines()[-1]}")
    sys.exit(1 if over or failed else 0)


if __name__ == "__main__":
    main()
