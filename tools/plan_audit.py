"""Physical-plan audit: build EVERY registered query at a small SF
and flag scale anti-patterns in the planned (not executed) physical
plan — the compile-time complement to scale_probe's runtime probes.

Each plan is built once and walked as a tree of physical nodes
(``plan_nodes``), never parsed from explain text. Checks per query:
- CartesianProduct: an unconditioned big-big join (always a bug at
  scale; broadcast one-row scalar attachment plans as
  BroadcastNestedLoopJoin and is NOT flagged).
- BroadcastNestedLoopJoin count: usually an inequality join that
  silently degenerated (informational, ``bnlj_info``).
- GLOBAL window (a WindowExec with no partition spec but an ordering
  — every row through one task): flagged unless the query declares
  ``global_window=`` (bounded by construction: the window's input is
  an aggregate of <= ~100 rows) in its register() line.
- SortAggregate count (``sortagg``): usually an aggregate whose
  buffer carries an array/struct/string payload (first()-buffered
  non-key columns), so the whole input rides a per-partition SORT
  instead of hash aggregation. Keyless global aggregates also plan
  as SortAggregate and are fine. Aggregate strategy is type-driven,
  not stats-driven, so sf0.001 shows it.
- generate-class broadcasts (``generate_class``): the rule of
  tools/broadcast_audit.py, which judges them against the x100 replica.

Queries declared ``quadratic=True`` (documented quadratic baselines,
guarded by row caps) are not checked for Cartesian / nested-loop joins.

--dump DIR also writes each audited query's formatted explain to
DIR/<query>.txt: diff two dump directories to check that a refactor
left the plans byte-identical.

Usage: python tools/plan_audit.py [--dump DIR] sf_dir [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# nodes that bound a relation's size independent of its input
BOUND_NODES = frozenset(
    {
        "HashAggregateExec",
        "SortAggregateExec",
        "ObjectHashAggregateExec",
        "GlobalLimitExec",
        "TakeOrderedAndProjectExec",
        "CollectLimitExec",
    }
)


def _seq(s) -> list:
    it = s.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def plan_nodes(df):
    """Yield (depth, class name, JVM node) for every node of df's
    physical plan, pre-order. Descends children() and innerChildren()
    (subquery plans; a cached scan's InMemoryRelation),
    AdaptiveSparkPlanExec.executedPlan(), *QueryStageExec.plan() and
    InMemoryRelation.cachedPlan(). A ReusedExchange is a leaf: its
    defining subtree is walked once, where it is defined."""
    stack = [(0, df._jdf.queryExecution().executedPlan())]
    while stack:
        depth, node = stack.pop()
        cls = node.getClass().getSimpleName()
        yield depth, cls, node
        if cls == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [node.plan()]
        elif cls == "InMemoryRelation":
            kids = [node.cachedPlan()]
        else:
            kids = _seq(node.children()) + _seq(node.innerChildren())
        stack.extend((depth + 1, k) for k in reversed(kids))


def node_classes(df) -> Counter:
    return Counter(cls for _, cls, _ in plan_nodes(df))


def generate_class_broadcasts(nodes) -> int:
    """BroadcastExchanges whose subtree holds a Generate (explode) and
    no bounding node (BOUND_NODES) anywhere in it: the build side's
    size is Catalyst's guess after an explode."""
    bad = 0
    for i, (depth, cls, _) in enumerate(nodes):
        if cls != "BroadcastExchangeExec":
            continue
        sub = set()
        for d, c, _ in nodes[i + 1:]:
            if d <= depth:
                break
            sub.add(c)
        if "GenerateExec" in sub and not sub & BOUND_NODES:
            bad += 1
    return bad


def audit(df) -> dict[str, int]:
    nodes = list(plan_nodes(df))
    classes = Counter(cls for _, cls, _ in nodes)
    return {
        "cartesian": classes["CartesianProductExec"],
        "bnlj": classes["BroadcastNestedLoopJoinExec"],
        "global_window": sum(
            1
            for _, cls, n in nodes
            if cls == "WindowExec"
            and n.partitionSpec().isEmpty()
            and n.orderSpec().nonEmpty()
        ),
        "sortagg": classes["SortAggregateExec"],
        "generate_class": generate_class_broadcasts(nodes),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("queries", nargs="*", help="audit only these (default: all)")
    ap.add_argument("--dump", metavar="DIR", help="write DIR/<query>.txt explains")
    args = ap.parse_args()
    only = set(args.queries)
    if args.dump:
        os.makedirs(args.dump, exist_ok=True)
    from joblink_etl_spark.plans import registry
    from joblink_etl_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    flagged, info, sortagg, gen, errors = {}, {}, {}, {}, {}
    for name, spec in registry.specs().items():
        if only and name not in only:
            continue
        try:
            df = spec.fn(spark, args.sf_dir)
            if args.dump:
                with open(os.path.join(args.dump, f"{name}.txt"), "w") as f:
                    f.write(
                        spark._jvm.PythonSQLUtils.explainString(
                            df._jdf.queryExecution(), "formatted"
                        )
                    )
            a = audit(df)
        except Exception as e:  # noqa: BLE001 — audit must cover the rest
            errors[name] = str(e).splitlines()[0][:200]
            continue
        finally:
            spark.catalog.clearCache()
        if a["cartesian"] and not spec.quadratic:
            flagged[name] = "CartesianProduct"
        elif a["bnlj"] and not spec.quadratic:
            # one-row scalar attachments are fine; record for review
            info[name] = a["bnlj"]
        if a["global_window"] and not spec.global_window:
            flagged[name] = f"global_window x{a['global_window']}"
        if a["sortagg"]:
            sortagg[name] = a["sortagg"]
        if a["generate_class"]:
            gen[name] = a["generate_class"]
        print(".", end="", flush=True)
    print()
    print(
        json.dumps(
            {
                "flagged": flagged,
                "bnlj_info": info,
                "sortagg": sortagg,
                "generate_class": gen,
                "errors": errors,
            }
        )
    )


if __name__ == "__main__":
    main()
