"""Generate PLANS.md: a physical-plan census of every driver query.

For each __spark_entry__.queries() entry, compile the plan at sf0.001 and
record the scale-relevant shape: number of Exchanges (shuffles), number
of Python-eval nodes (Arrow/batch UDF stages), whether small sides broadcast,
and whether the parquet scan shows pushed filters / pruned columns. This
is the honest "would this survive 100x" audit, regenerated per round.

Usage: python scripts/plan_report.py [sf_dir] (default /root/testdata/sf0.001)
"""

from __future__ import annotations

import importlib.util
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tiny_search_engine_spark.session import get_spark  # noqa: E402

# a physical-plan node that runs Python: MapInPandas, FlatMapGroupsInPandas,
# ArrowEvalPython/BatchEvalPython and the other *InPandas/*InArrow operators;
# matched at the start of a plan-tree line so expression text never counts
PY_NODE = re.compile(
    r"^[ :|+\-]*(?:\*\(\d+\) )?(\w+InPandas|\w+InArrow|\w*EvalPython)\b", re.M
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spec = importlib.util.spec_from_file_location(
        "entrymod", os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    spark = get_spark(app_name="plan_report")
    rows = []
    for name, fn in sorted(m.queries().items()):
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rows.append(
                (
                    name,
                    plan.count("Exchange"),
                    len(PY_NODE.findall(plan)),
                    "yes" if "Broadcast" in plan else "no",
                    "yes" if "PushedFilters: [" in plan and "PushedFilters: []" not in plan else "no",
                )
            )
        except Exception as exc:  # pragma: no cover — report, don't die
            rows.append((name, -1, f"ERROR: {str(exc)[:60]}", "", ""))
    spark.stop()
    out = [
        "# Physical-plan census (driver queries)",
        "",
        f"Generated by `python scripts/plan_report.py {sf_dir}`. Exchanges",
        "count shuffle boundaries in the compiled plan (AQE stages included);",
        "py-eval counts the plan's Python/Arrow evaluation nodes (each one a",
        "Python stage; the hot-path rule is: only where Spark has no builtin —",
        "unicode normalization, feature DP kernels, stateful streaming);",
        "broadcast marks at least one broadcast exchange/join (small sides",
        "must broadcast); pushdown marks a parquet scan with non-empty",
        "PushedFilters.",
        "",
        "| query | exchanges | py-eval | broadcast | pushdown |",
        "|---|---|---|---|---|",
    ]
    for name, ex, py, bc, pd in rows:
        out.append(f"| {name} | {ex} | {py} | {bc} | {pd} |")
    n_py = sum(1 for r in rows if isinstance(r[2], int) and r[2] > 0)
    out += [
        "",
        f"{len(rows)} queries; {n_py} touch Python eval.",
        "",
    ]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written: {len(rows)} queries, {n_py} with python eval")


if __name__ == "__main__":
    main()
