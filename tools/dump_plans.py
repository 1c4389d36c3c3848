"""Dump physical plans.

``python tools/dump_plans.py`` generates PLANS.md: the physical plan
audit for every headline query. For each query: exchange count,
broadcast usage, scan pushdown evidence, and the full formatted plan —
the artifact backing the scale-design claims in README.md (regenerate
after plan-affecting changes).

``python tools/dump_plans.py --tag TAG [SUFFIX [query ...]]`` writes
each query's ``explain("formatted")`` to
``plans/TAG/<query>_<SUFFIX>.txt`` — SUFFIX is ``before`` (the
default) or ``after`` a change, so a plan-shape claim can be checked
by diffing the two. With no query list it dumps every HEADLINE +
X3_EXACT query.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, X3_EXACT, _release  # noqa: E402
from pyspark_scd_spark.plans import explain  # noqa: E402
from pyspark_scd_spark.registry import REGISTRY  # noqa: E402
from pyspark_scd_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def dump_tagged(tag: str, suffix: str, names: list[str]) -> None:
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"dump_plans_{tag}")
    for name in names or [n for n in HEADLINE + X3_EXACT if n in REGISTRY]:
        df = REGISTRY[name].builder(spark, SF_DIR)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(explain.formatted_plan(df))
        print(f"wrote {path}", flush=True)
        _release(spark)


def main() -> None:
    if sys.argv[1:2] == ["--tag"]:
        suffix = sys.argv[3] if len(sys.argv) > 3 else "before"
        dump_tagged(sys.argv[2], suffix, sys.argv[4:])
        return
    spark = get_spark(app_name="dump_plans")
    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        "Auto-generated by `tools/dump_plans.py` at sf0.01. For each",
        "query: shuffle-exchange count (broadcast exchanges excluded),",
        "join strategies, and scan pushdown — then the physical plan.",
        "",
    ]
    for name in HEADLINE:
        q = REGISTRY[name]
        df = q.builder(spark, SF_DIR)
        plan = explain.physical_plan(df)
        n_ex = plan.count("Exchange hashpartitioning") + plan.count(
            "Exchange rangepartitioning"
        )
        n_single = plan.count("Exchange SinglePartition")
        joins = sorted(
            set(re.findall(r"(\w*(?:HashJoin|MergeJoin|NestedLoopJoin))", plan))
        )
        pushed = explain.pushed_filters(df)
        schemas = explain.scan_read_schemas(df)
        lines += [
            f"## {name}",
            "",
            q.doc,
            "",
            f"- shuffle exchanges: **{n_ex}**"
            + (f" (+{n_single} single-partition 1-row scalar finalizations)"
               if n_single else ""),
            f"- joins: {', '.join(joins) if joins else 'none'}",
            f"- scans: {len(schemas)}; pushed filters: "
            + ("; ".join(f"[{p}]" for p in pushed if p) or "none"),
            "",
            "```",
            plan.strip()[:4000],
            "```",
            "",
        ]
    out = os.path.join(REPO, "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}: {len(HEADLINE)} plans")


if __name__ == "__main__":
    main()
