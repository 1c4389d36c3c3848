"""Generate REGISTRY_INDEX.json — the machine-readable manifest of
every registry entry (r13, VERDICT r12 item 7: 263+ entries is past
the point where COVERAGE.md prose is the only index; the next
consumer — human or driver — needs name -> source location, tables
touched, bench tier, oracle kind without importing Spark).

Per entry:
  - src:    "path/to/module.py:line" of the builder function
  - tables: testdata tables the DuckDB oracle reads (word-matched
            against the 10 registered view names; the Spark builder
            reads the same tables by the registry contract)
  - oracle: "full" (value-hash SQL twin) — every entry today; a
            future rows-only entry would record "rows_only"
  - bench:  "headline" / "x10" / "x3" / null (from bench.py's sets;
            x10/x3 listed only when not already headline)
  - plan_pins: tests in tests/test_plans.py that name this entry, in
            their own body or in a module-level constant they read —
            the plan-shape contracts a refactor must keep green
  - doc:    the entry's registered one-line doc (first sentence)

tests/test_registry_index.py regenerates this in-memory and asserts
the committed file matches — the manifest can never drift from
REGISTRY.

Usage: python tools/gen_registry_index.py [out_json]
"""

from __future__ import annotations

import ast
import inspect
import json
import os
import re
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _plan_pins() -> dict:
    """test name -> the source text that counts as the test's body:
    its own def (decorators included) plus every module-level
    assignment whose name it reads (such as a budget dict), so an
    entry named there is pinned by the test that uses it, and by no
    test that merely precedes it in the file."""
    path = os.path.join(REPO, "tests", "test_plans.py")
    with open(path) as f:
        src = f.read()
    lines = src.splitlines(keepends=True)

    def text(node) -> str:
        first = min([d.lineno for d in getattr(node, "decorator_list", [])]
                    + [node.lineno])
        return "".join(lines[first - 1:node.end_lineno])

    module = ast.parse(src)
    consts = {  # module-level name -> its assignment's text
        t.id: text(node)
        for node in module.body
        if isinstance(node, ast.Assign)
        for t in node.targets
        if isinstance(t, ast.Name)
    }
    bodies = {}
    for node in module.body:
        if isinstance(node, ast.FunctionDef) and node.name.startswith("test_"):
            read = {
                n.id
                for n in ast.walk(node)
                if isinstance(n, ast.Name) and n.id in consts
            }
            bodies[node.name] = text(node) + "".join(consts[c] for c in sorted(read))
    return bodies


def build_index() -> dict:
    import bench
    from pyspark_scd_spark.registry import REGISTRY

    bodies = _plan_pins()
    out = {}
    for name in sorted(REGISTRY):
        q = REGISTRY[name]
        fn = inspect.unwrap(q.builder)
        src_file = os.path.relpath(inspect.getsourcefile(fn), REPO)
        src_line = inspect.getsourcelines(fn)[1]
        sql = q.oracle or ""
        tables = sorted(
            t
            for t in TABLES
            if re.search(rf"\b{t}\b", sql)
        )
        if name in bench.HEADLINE:
            tier = "headline"
        elif name in bench.X10_HEAVY:
            tier = "x10"
        elif name in bench.X3_EXACT:
            tier = "x3"
        else:
            tier = None
        doc = (q.doc or "").strip()
        first = doc.split(". ")[0]
        out[name] = {
            "src": f"{src_file}:{src_line}",
            "tables": tables,
            "oracle": "full" if q.oracle else "rows_only",
            "bench": tier,
            "plan_pins": sorted(
                t
                for t, body in bodies.items()
                if re.search(rf'"{name}"', body)
            ),
            "doc": (first + ".") if first and not first.endswith(".")
            else first,
        }
    return out


def main() -> None:
    out_path = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(REPO, "REGISTRY_INDEX.json")
    )
    idx = build_index()
    with open(out_path, "w") as f:
        json.dump(
            {"n_entries": len(idx), "entries": idx},
            f,
            indent=1,
            sort_keys=True,
        )
        f.write("\n")
    print(f"wrote {out_path}: {len(idx)} entries")


if __name__ == "__main__":
    main()
