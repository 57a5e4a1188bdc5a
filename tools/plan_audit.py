"""Physical-plan hygiene census over EVERY queries() entry.

Emits one JSON object per query with the plan-shape counters the
scale review cares about — parquet scans, exchanges, window nodes,
join strategies, and any Python eval nodes (BatchEvalPython is the
banned row-at-a-time form; the Arrow-vectorized forms are allowed) —
plus a summary rollup. Plans are built at a small sf (construction of
iterative queries runs their real barriered rounds; everything else
stays lazy), so the audit is cheap and runs per round.

CartesianProduct nodes are classified by SUBTREE. One with a data scan
(`FileScan parquet`) below it is risky. So is one with a hidden input
below it: a `Scan ExistingRDD` (a barrier() checkpoint) or a
`ReusedExchange` can stand for a corpus-sized relation whose scan the
plan does not show. Only the queries of `LADDER_QUERIES`, reviewed by
name, count a hidden-input cartesian as bounded. A cartesian over
neither (e.g. literal rows) is bounded. Risky cartesians fire
`summary.with_cartesian_product`.

Usage:

    python tools/plan_audit.py [--json PLAN_AUDIT.json] [sf_dir] [names...]
"""

from __future__ import annotations

import io
import json
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df, mode: str = "simple") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _node_indent(line: str) -> int:
    """Depth of a plan-tree line = column where the node name starts
    (after the ':', '+', '-' branch art)."""
    return len(line) - len(line.lstrip(" :+-"))


# Plan nodes that hide the size of the relation below them.
HIDDEN_INPUTS = ("Scan ExistingRDD", "ReusedExchange")

# Reviewed by query name: each cartesian of these queries is eaglemine's
# water-LEVEL inequality self-join (histogram.water_level_tree). Both
# sides are the barriered level ladder, one row per power of two up to
# the largest cell count, so at most 63 rows at any corpus scale.
LADDER_QUERIES = frozenset({
    "eaglemine_clusters", "eaglemine_stitch", "eaglemine_describe",
    "eaglemine_describe_trunc", "eaglemine_describe_dtm", "eaglemine_anderson",
})


def cartesian_inputs(plan: str) -> list[str]:
    """For each CartesianProduct node, what its subtree reads: "scan"
    (a `FileScan parquet`), else "hidden" (a node of HIDDEN_INPUTS),
    else "none"."""
    lines = plan.splitlines()
    kinds = []
    for i, line in enumerate(lines):
        if "CartesianProduct" not in line:
            continue
        d = _node_indent(line)
        kind = "none"
        for sub in lines[i + 1 :]:
            if not sub.strip():
                continue
            if _node_indent(sub) <= d:
                break
            if "FileScan parquet" in sub:
                kind = "scan"
                break
            if any(h in sub for h in HIDDEN_INPUTS):
                kind = "hidden"
        kinds.append(kind)
    return kinds


def bounded_cartesians(plan: str) -> tuple[int, int]:
    """(cartesians with no data scan below, cartesians with one). The
    first count includes hidden-input cartesians; :func:`audit_plan`
    counts those as risky unless the query is in LADDER_QUERIES."""
    kinds = cartesian_inputs(plan)
    return len(kinds) - kinds.count("scan"), kinds.count("scan")


def audit_plan(plan: str, query: str | None = None) -> dict:
    kinds = cartesian_inputs(plan)
    n_risky = kinds.count("scan")
    if query not in LADDER_QUERIES:
        n_risky += kinds.count("hidden")
    return {
        "bounded_cartesians": len(kinds) - n_risky,
        "risky_cartesians": n_risky,
        "hidden_input_cartesians": kinds.count("hidden"),
        "parquet_scans": plan.count("FileScan parquet"),
        "exchanges": plan.count("Exchange "),
        "hash_exchanges": plan.count("hashpartitioning"),
        "single_partition_exchanges": plan.count("SinglePartition"),
        "windows": plan.count("Window "),
        "window_group_limits": plan.count("WindowGroupLimit"),
        "broadcast_hash_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "broadcast_nl_joins": plan.count("BroadcastNestedLoopJoin"),
        "cartesian_products": plan.count("CartesianProduct"),
        "batch_eval_python": plan.count("BatchEvalPython"),
        "arrow_eval_python": plan.count("ArrowEvalPython"),
        "grouped_pandas": plan.count("FlatMapGroupsInPandas"),
        "map_in_pandas": plan.count("MapInPandas")
        + plan.count("PythonMapInArrow")
        + plan.count("MapInArrow"),
        "generates": plan.count("Generate"),
        "existing_rdd_scans": plan.count("Scan ExistingRDD"),
    }


def main() -> int:
    args = list(sys.argv[1:])
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            print("usage: plan_audit.py [--json OUT.json] [sf_dir] [query ...]")
            return 2
        json_out = args[i + 1]
        del args[i : i + 2]
    import os as _os

    def _is_dir_arg(a: str) -> bool:
        return "/" in a or _os.path.isdir(a)

    sf_dir = args[0] if args and _is_dir_arg(args[0]) else "/root/testdata/sf0.001"
    only = [a for a in args if not _is_dir_arg(a)]

    import __spark_entry__ as E
    from spartan2_spark.session import get_spark

    spark = get_spark("plan-audit")
    qs = E.queries()
    names = only or list(qs)
    out, failures = {}, []
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            out[name] = audit_plan(plan_of(df), name)
        except Exception as e:  # noqa: BLE001 — census must finish
            failures.append(name)
            out[name] = {"error": str(e).split("\n")[0][:200]}
            continue
        flag = " PYROW!" if out[name]["batch_eval_python"] else ""
        cart = " CARTESIAN!" if out[name]["risky_cartesians"] else ""
        print(
            f"{name:32s} scans={out[name]['parquet_scans']} "
            f"exch={out[name]['exchanges']} win={out[name]['windows']}"
            f"{flag}{cart}"
        )
    summary = {
        "n_queries": len(names),
        "n_failures": len(failures),
        "failures": failures,
        "with_row_at_a_time_python": [
            n for n, a in out.items() if a.get("batch_eval_python")
        ],
        "with_cartesian_product": [
            n for n, a in out.items() if a.get("risky_cartesians")
        ],
        "with_bounded_cartesian": [
            n for n, a in out.items() if a.get("bounded_cartesians")
        ],
        "max_parquet_scans": max(
            (a.get("parquet_scans", 0) for a in out.values()), default=0
        ),
    }
    print(json.dumps(summary))
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "summary": summary, "plans": out}, f,
                      indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
