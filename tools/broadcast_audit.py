"""Implicit-broadcast audit: find misestimated corpus-scale
broadcasts of the class that aborts at cluster scale.

Catalyst's size estimate of a relation downstream of an explode
(Generate) is a guess — the actual row count is data-dependent and
the estimator has no cardinality for it. When such a relation is
CORPUS-SCALE and the guess lands under the auto-broadcast threshold,
the planner emits BroadcastExchange and the job dies collecting the
hashed relation at real data sizes (observed: the incremental
substring-dedup index at x100, >1 GiB vs spark.driver.maxResultSize;
r12 also caught nb_classify's exploded feature re-join and
interval_join_binned's exploded interval side this way).

This tool builds each registered query's physical plan against a
LARGE corpus (the cached x100 scratch replica by default — at small
SFs the same structural pattern is often a legitimately-small
broadcast) and walks it as a tree of physical nodes
(tools/plan_audit.py ``plan_nodes``). The walk descends every node's
children and inner children (scalar / IN subquery plans; a cached
scan's InMemoryRelation), AdaptiveSparkPlanExec's current plan, each
query stage's plan and each InMemoryRelation's cached plan; a
ReusedExchange is a leaf, walked once where it is defined. A
BroadcastExchange is generate-class when its subtree holds a
Generate (explode) and NO bounding node (aggregate / limit /
TakeOrdered, plan_audit.BOUND_NODES) anywhere in that subtree.
Queries declaring ``broadcast_bound=`` in their register() line are
bounded by PRODUCTION CONTRACT rather than by plan shape, with the
reason recorded.

Filter/scan-class broadcasts (no explode) are NOT flagged: their
estimates track file sizes, so the planner flips them to sort-merge
as data grows — that class is self-correcting. Treat this scan as
structural triage, with the x100 runtime probes (PERF.md) as the
executable backstop.

Queries declaring ``construction=`` (iterative builders whose plan
CONSTRUCTION runs Spark jobs) are not planned in the standing run —
but every one of them carries an explicit per-query disposition,
printed in the output:
  * probe      — the query declares a scale_probe ``family=``: it has
                 an x100 RUNTIME probe row in PERF.md, where a
                 misestimated broadcast aborts loudly (exactly how
                 incremental_repeat_spans was caught).
  * x100-audit — `--exempt-audit` built it (capped where noted)
                 against the x100 replica: construction jobs executed
                 at x100 + final-plan scan; banked as AUDIT_EXEMPT_r*.json.
  * bound      — the query declares ``state_bound=``: a documented
                 reason the constructed state is size-bounded
                 independent of corpus scale.

Usage:
  python tools/broadcast_audit.py [--round N] [sf_dir] [query ...]
  python tools/broadcast_audit.py --exempt-audit [--round N] [sf_dir] [query ...]
Exit 1 on any generate-class broadcast of a query that declares no
``broadcast_bound=`` (or, in
--exempt-audit mode, on any exempt query that errors or flags).
A designed quadratic-guard refusal (the cosine_near_dups max_rows
ValueError) is status 'guard_refusal_by_design' — a verified
contract, not a failure — and does NOT fail the gate (ADVICE r13).
--round stamps the artifact's `round` field (default: latest
CORRECTNESS_r*.json round + 1) so the banked AUDIT_EXEMPT_r{N}.json
is reproducible from this committed tool.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from plan_audit import generate_class_broadcasts, plan_nodes  # noqa: E402

# Capped construction variants for --exempt-audit: same operators and
# plan shapes, fewer iterations/probe rounds, so the x100 build cost
# stays bounded while every per-round plan shape (the dangerous gram/
# vocab joins) still executes once against the replica.
def _capped_lrs(spark, sf_dir):
    from joblink_etl_spark.operators import suffix as SX
    from joblink_etl_spark.plans.ext_q import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # min_len=256: one-to-few doubling probes; each probe runs the full
    # corpus-scale gram aggregation + join (the shape that aborted in
    # r12's incremental_repeat_spans) at x100.
    L, text, occ = SX.longest_repeated_substring(docs, min_count=2, min_len=256)
    return spark.createDataFrame([(L, occ)], "lrs_len BIGINT, occurrences BIGINT")


def _capped_bpe_merges(spark, sf_dir):
    from joblink_etl_spark.operators import bpe as B
    from joblink_etl_spark.plans.ext_q import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # 2 merges instead of 8: the per-merge argmax job over the
    # persisted corpus-scale vocab (the risky relation) runs twice.
    merges = B.train_bpe(docs, n_merges=2)
    return spark.createDataFrame(
        merges, "rank BIGINT, left_sym STRING, right_sym STRING, pair_count BIGINT"
    )


def _capped_bpe_encode(spark, sf_dir):
    from joblink_etl_spark.operators import bpe as B
    from joblink_etl_spark.plans.ext_q import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = B.train_bpe(docs, n_merges=2)
    return B.bpe_encode(docs, merges)


CAPPED_RUNNERS = {
    "lrs_exact": _capped_lrs,
    "bpe_merges": _capped_bpe_merges,
    "bpe_merges_fixed": None,  # enum-vocab trainer: cheap, run as-is
    "bpe_encode": _capped_bpe_encode,
}
CAPPED_RUNNERS = {k: v for k, v in CAPPED_RUNNERS.items() if v is not None}


def exempt_dispositions(specs) -> dict[str, str]:
    """name -> 'kind: detail' for every query declaring construction=:
    probe-kind for a declared scale_probe family (the queries with
    x100 runtime rows in PERF.md), bound-kind for a declared
    state_bound, and the remainder cites the banked --exempt-audit
    artifact."""
    out = {}
    for name, spec in sorted(specs.items()):
        if not spec.construction:
            continue
        if spec.family:
            out[name] = (
                f"probe: x100 runtime probe row (PERF.md, scale_probe "
                f"family '{spec.family}')"
            )
        elif spec.state_bound:
            out[name] = f"bound: {spec.state_bound}"
        else:
            capped = " (capped construction)" if name in CAPPED_RUNNERS else ""
            out[name] = (
                f"x100-audit: built against the x100 replica{capped} — "
                f"{_latest_exempt_artifact()}"
            )
    return out


def _latest_exempt_artifact() -> str:
    import glob

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    banked = sorted(
        glob.glob(os.path.join(root, "AUDIT_EXEMPT_r*.json")),
        key=lambda f: int("".join(c for c in os.path.basename(f) if c.isdigit())),
    )
    return os.path.basename(banked[-1]) if banked else "AUDIT_EXEMPT (unbanked)"


def _default_round() -> int:
    """Latest banked CORRECTNESS round + 1 — the round being built."""
    import glob
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = [
        int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        for f in glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
    ]
    return (max(rounds) + 1) if rounds else 0


def _is_guard_refusal(exc: Exception) -> bool:
    """The designed O(N²) quadratic-guard refusal (similarity.py's
    cosine_near_dup_pairs max_rows contract) — a verified refusal of
    corpus-scale input, not an audit failure."""
    return isinstance(exc, ValueError) and "allow_quadratic" in str(exc)


def main() -> None:
    default_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch",
        "sf1x100p",
    )
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sf_dir", nargs="?", default=default_dir)
    ap.add_argument("queries", nargs="*", help="audit only these (default: all)")
    ap.add_argument("--exempt-audit", action="store_true")
    ap.add_argument("--round", type=int, help="artifact round (default: latest + 1)")
    args = ap.parse_args()
    exempt_mode = args.exempt_audit
    round_no = _default_round() if args.round is None else args.round
    sf_dir = args.sf_dir
    only = set(args.queries)

    from joblink_etl_spark.plans import registry
    from joblink_etl_spark.session import get_spark

    specs = registry.specs()
    exempt = sorted(n for n, s in specs.items() if s.construction)
    dispositions = exempt_dispositions(specs)

    def scan(df) -> int:
        return generate_class_broadcasts(list(plan_nodes(df)))

    spark = get_spark("broadcast-audit")
    spark.sparkContext.setLogLevel("ERROR")

    if exempt_mode:
        # build every exempt query (capped where registered) against the
        # replica: construction jobs EXECUTE at x100 (an abort here is a
        # real catch), then the final plan gets the structural scan.
        results = {}
        for name in exempt:
            if only and name not in only:
                continue
            fn = CAPPED_RUNNERS.get(name) or specs[name].fn
            t0 = time.perf_counter()
            try:
                results[name] = {
                    "status": "ok",
                    "generate_class": scan(fn(spark, sf_dir)),
                    "capped": name in CAPPED_RUNNERS,
                    "sec": round(time.perf_counter() - t0, 2),
                }
            except Exception as e:  # noqa: BLE001
                if _is_guard_refusal(e):
                    results[name] = {
                        "status": "guard_refusal_by_design",
                        "detail": "cosine_near_dup_pairs max_rows guard "
                        "refused the x100 corpus — the documented contract "
                        "for the labeled quadratic baseline",
                        "sec": round(time.perf_counter() - t0, 2),
                    }
                else:
                    results[name] = {
                        "status": "error",
                        "err": str(e)[:200],
                        "capped": name in CAPPED_RUNNERS,
                        "sec": round(time.perf_counter() - t0, 2),
                    }
            spark.catalog.clearCache()
            print(
                f"[exempt-audit] {name}: {results[name]['status']} "
                f"gc={results[name].get('generate_class')} "
                f"({results[name]['sec']}s)",
                file=sys.stderr,
                flush=True,
            )
        bad = {
            n: r
            for n, r in results.items()
            if r["status"] not in ("ok", "guard_refusal_by_design")
            or (r.get("generate_class") and not specs[n].broadcast_bound)
        }
        print(
            json.dumps(
                {
                    "sf_dir": sf_dir,
                    "round": round_no,
                    "what": "every query declaring construction= built "
                    "(capped where noted) against the x100 perturbed "
                    "replica: construction jobs executed at x100 + "
                    "structural scan of the final plan "
                    "(tools/broadcast_audit.py --exempt-audit)",
                    "scan_mode": "plan_nodes",
                    "n_ok": sum(
                        1 for r in results.values() if r["status"] == "ok"
                    ),
                    "n_guard_refusal": sum(
                        1
                        for r in results.values()
                        if r["status"] == "guard_refusal_by_design"
                    ),
                    "exempt_results": results,
                    "bad": bad,
                }
            )
        )
        sys.exit(1 if bad else 0)

    flagged, whitelisted, errors = {}, {}, {}
    statuses = {}
    for name, spec in specs.items():
        if only and name not in only:
            continue
        if not only and spec.construction:
            statuses[name] = dispositions[name]
            continue
        try:
            n = scan(spec.fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — audit must not die on one query
            errors[name] = str(e)[:150]
            statuses[name] = "error"
            continue
        finally:
            spark.catalog.clearCache()
        if n and spec.broadcast_bound:
            whitelisted[name] = spec.broadcast_bound
            statuses[name] = f"whitelisted ({n} generate-class)"
        elif n:
            flagged[name] = n
            statuses[name] = f"FLAGGED ({n} generate-class)"
        else:
            statuses[name] = "clean"

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "round": round_no,
                "scan_mode": "plan_nodes",
                "flagged": flagged,
                "whitelisted": whitelisted,
                "errors": errors,
                "exempt_dispositions": {n: dispositions[n] for n in exempt},
                "queries": statuses,
                "n_queries": len(statuses),
            }
        )
    )
    sys.exit(1 if flagged or errors else 0)


if __name__ == "__main__":
    main()
