"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully materialized through the noop sink so the number
measures engine execution (scan→compute→shuffle), not driver-side
row deserialization.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# The headline set IS the registry: every registered query gets a
# bench number (a hand-maintained list silently dropped value_cdf in
# round 3 — VERDICT r3 item #4), EXCEPT the explicitly-labeled
# quadratic all-pairs baselines — measured 184 s at sf0.1
# (cosine_near_dups), which is the baseline doing exactly what its
# docstring says it does at N=2000. They are excluded LOUDLY (the
# JSON carries an "excluded" field), not silently; each declares
# bench_excluded=True in its register() line.
def excluded_queries() -> list[str]:
    from joblink_etl_spark.plans import registry

    return [n for n, s in registry.specs().items() if s.bench_excluded]


# Container-health canary (r9 verdict item 2, basket since r14): solo
# probes BEFORE and AFTER the main loop make a drifting container
# visible inside the bench artifact itself instead of costing a round
# of spurious regression flags (r9: 14 flags, all drift/contention).
#
# STABLE-TRIO BASKET (r13 verdict item 3): the quiet/suspect verdict
# is the MEDIAN solo ratio of three untouched query families the
# builder never optimizes together (TPC-H-shaped agg, join-agg,
# events gap-fill). A single-query canary conflates "the container
# drifted" with "the canary's own plan family changed" — exactly the
# r13 false-suspect, where the minhash scale fix moved pagerank_docs'
# quiet level and the canary condemned a healthy container. Three
# unrelated families median-voted can only trip together for a
# container-level cause. pagerank_docs stays a REPORTED datapoint
# (canary_pagerank_* fields) because its graph-family sensitivity is
# useful in triage — it just no longer gates the verdict.
#
# Pins are HOST-SPECIFIC quiet-container solo levels (32-core
# local[32]); override alongside SPARK_GRAFT_SF_DIR via
# SPARK_GRAFT_BASKET_PINS="name=sec,name=sec" (ADVICE r10 applies to
# the basket too). Re-pin with:
#   python tools/solo_time.py <sf_dir> pricing_summary volume_shipping gap_fill_hourly
# PINNED r14 at the best quiet solo level each query has shown
# across r12-r14 (pricing_summary 0.40/0.57, volume_shipping
# 0.70/0.70, gap_fill_hourly 0.61/0.50 — r13 re-pin evidence + r14
# solo run on a container reading quiet: pagerank_docs 6.83 vs its
# 6.3 pin). Individual pins may read a little tight on a given day
# (pricing_summary wanders 0.40-0.60 solo); the MEDIAN vote absorbs
# that — only a container-level cause moves all three.
CANARY_BASKET: dict[str, float] = {
    "pricing_summary": 0.45,
    "volume_shipping": 0.70,
    "gap_fill_hourly": 0.50,
}
_pins_env = os.environ.get("SPARK_GRAFT_BASKET_PINS")
if _pins_env:
    CANARY_BASKET = {
        kv.split("=")[0]: float(kv.split("=")[1])
        for kv in _pins_env.split(",")
        if "=" in kv
    }

# Reported-but-non-gating datapoint (see basket note above).
CANARY_QUERY = "pagerank_docs"
CANARY_PIN_SEC = float(os.environ.get("SPARK_GRAFT_CANARY_PIN", "6.3"))

# In-run burst guard (r10 verdict item 2): the canary bounds a run's
# ENDS only, so a mid-run contention burst (observed: consensus_near_dups
# 16.4 s inside a verified-quiet run vs 4.8-5.5 s solo) pollutes that
# one query's figure without tripping the canary. At the end of the
# main loop, any query whose in-run time exceeds REPROBE_RATIO x its
# trailing-round time (the committed BENCH_DETAIL.json from the prior
# round, read before we overwrite it) AND by more than REPROBE_MIN_GAP_SEC
# is re-timed once; BOTH numbers land in the detail so regression triage
# needs no manual solo probes. Capped so a globally-degraded container
# can't double the run length.
REPROBE_RATIO = 2.0
REPROBE_MIN_GAP_SEC = 0.5
REPROBE_MAX = 12

# Drift-aware tightening (r12 verdict "What's wrong" #2): the 2x
# per-query guard lets a globally-drifted container inflate the
# headline total 10-30% with zero re-probes (r12's driver run:
# canary_pre 5.123 vs pin 3.8, median per-query ratio 1.008 — fine
# that time, but nothing ENFORCED it). When the PRE basket already
# classifies the run suspect (median trio ratio > 1.2), the re-probe
# trigger drops to SUSPECT_REPROBE_RATIO and the cap rises, so the
# elevated tail gets adjudicated numbers instead of silently
# absorbed drift. On suspect runs format_output emits
# `drift_normalized_total` = total / median per-query ratio vs the
# committed prior round — the PRIMARY cross-round number (r13
# What's-wrong #1: measured on the workload itself, no uniformity
# assumption) — with the basket-uniform estimate kept as the
# secondary `drift_normalized_total_basket_uniform`.
SUSPECT_REPROBE_RATIO = 1.3
SUSPECT_REPROBE_MAX = 24


def _py_worker_warmup(spark) -> None:
    """Python-worker / Arrow cold-start fence (r11 verdict item 5,
    mechanism identified r12): the run's FIRST mapInPandas /
    pandas-UDF query pays the Python worker pool spin-up (32 workers
    fork + pandas/pyarrow import + Arrow codepath init) — measured
    scene_cuts 2.95 s as first-pandas-in-session vs 1.14 s right
    after this fence, the exact 2-2.5x "positional artifact" the r11
    window rotation created by making scene_cuts the first Arrow
    query in bench order. One tiny 32-partition mapInPandas job
    before the timed loop warms every worker; the pool is reused for
    the rest of the run (spark.python.worker.reuse default)."""

    def _ident(it):
        for pdf in it:
            yield pdf

    spark.range(0, 64, 1, 32).mapInPandas(_ident, "id long").write.mode(
        "overwrite"
    ).format("noop").save()


def _solo(spark, fn, sf_dir: str, warm: bool, reps: int = 2) -> float:
    if warm:
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        best = min(best, time.perf_counter() - t0)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    return round(best, 3)


def _basket_solos(spark, qs, sf_dir: str, warm: bool) -> dict[str, float]:
    return {n: _solo(spark, qs[n], sf_dir, warm) for n in CANARY_BASKET}


def basket_ratio(solos: dict[str, float]) -> float:
    """Median solo/pin ratio over the stable trio — the run verdict's
    input. Median, not max: one family's own plan change (or one
    unlucky GC) must not condemn the run; a container-level cause
    moves all three."""
    return round(
        statistics.median(solos[n] / CANARY_BASKET[n] for n in CANARY_BASKET), 3
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from joblink_etl_spark.plans import registry
    from joblink_etl_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = registry.queries()
    excluded = excluded_queries()
    names = [n for n in qs if n not in excluded]
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    prior, prior_source = load_prior(detail_path)
    # warm the JVM + parquet footers so timings measure steady state
    qs[names[0]](spark, sf_dir).write.mode("overwrite").format("noop").save()
    _py_worker_warmup(spark)
    basket_pre = _basket_solos(spark, qs, sf_dir, warm=True)
    canary_pre = _solo(spark, qs[CANARY_QUERY], sf_dir, warm=True)

    timings: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        # each query's cached intermediates (minhash shingles etc.)
        # are query-private; dropping them between queries keeps one
        # query's cache from evicting the next one's mid-flight
        # (observed: a 3x swing on the minhash family late in a long
        # run). The drop is outside the timed window — the cache
        # WRITE cost stays inside each query's own time.
        spark.catalog.clearCache()
        # explicit GC between queries (also outside the timed
        # window): a ~115-query single-JVM run otherwise accumulates
        # heap until some unlucky query pays a multi-second
        # stop-the-world mid-measurement (observed 2-10x per-query
        # spikes late in long runs)
        spark.sparkContext._jvm.System.gc()

    # in-run burst re-probe pass (before the post basket, so the
    # basket still bounds the full run end); worst offenders first
    # under the cap. A suspect PRE basket tightens the trigger.
    # KNOWN ASYMMETRY (ADVICE r13, recorded as `suspect_source` in
    # the summary): the tightened trigger keys off the PRE probe
    # only — a run that drifts mid-run (quiet pre, suspect post) is
    # labeled suspect and drift-normalized but its re-probes ran
    # under the loose 2x trigger, because the post probe by
    # definition happens after the re-probe pass.
    suspect = basket_ratio(basket_pre) > 1.2
    reprobes: dict[str, dict[str, float]] = {}
    for name in select_reprobes(timings, prior, suspect=suspect):
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        reprobes[name] = {
            "in_run": timings[name],
            "reprobe": round(time.perf_counter() - t0, 3),
            "prior": prior[name],
        }
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    basket_post = _basket_solos(spark, qs, sf_dir, warm=False)
    canary_post = _solo(spark, qs[CANARY_QUERY], sf_dir, warm=False)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    print(
        format_output(
            timings,
            sf,
            detail_path,
            canary=(canary_pre, canary_post),
            basket=(basket_pre, basket_post),
            reprobes=reprobes,
            baseline_source=prior_source,
            prior=prior,
        )
    )


def load_prior(detail_path: str) -> tuple[dict[str, float], str]:
    """Trailing-ROUND per-query times for the re-probe guard: the
    COMMITTED BENCH_DETAIL.json (git show HEAD:./...), so that in a
    multi-attempt session every run compares against the last round's
    artifact rather than the previous attempt's overwrite (bench
    rewrites the working-tree file every run — the r10 lesson).

    The path is ``HEAD:./BENCH_DETAIL.json`` — the ``./`` makes git
    resolve it relative to cwd, so a nested checkout or worktree finds
    the right blob instead of silently reading a root-level file of
    the same name (ADVICE r11). Falls back to the working-tree file
    outside a git checkout, and the returned SOURCE tag ("committed" /
    "working-tree" / "none") is written into the detail artifact so a
    fallback is visible during triage instead of silent.
    """
    import subprocess

    try:
        blob = subprocess.run(
            ["git", "show", "HEAD:./BENCH_DETAIL.json"],
            cwd=os.path.dirname(detail_path) or ".",
            capture_output=True,
            text=True,
            timeout=10,
        )
        if blob.returncode == 0:
            return json.loads(blob.stdout).get("queries", {}), "committed"
    except (OSError, ValueError, subprocess.SubprocessError):
        pass
    try:
        with open(detail_path) as f:
            return json.load(f).get("queries", {}), "working-tree"
    except (OSError, ValueError):
        return {}, "none"


def select_reprobes(
    timings: dict[str, float],
    prior: dict[str, float],
    suspect: bool = False,
) -> list[str]:
    """Queries whose in-run time exceeds the trigger ratio x the
    trailing-round time AND by more than REPROBE_MIN_GAP_SEC (so
    0.1 s -> 0.25 s noise never flags), worst relative offenders
    first, capped. On a canary-suspect run the trigger drops from
    REPROBE_RATIO to SUSPECT_REPROBE_RATIO and the cap rises to
    SUSPECT_REPROBE_MAX, so global drift gets adjudicated instead of
    sailing under the 2x bar (r12 verdict item 3)."""
    ratio = SUSPECT_REPROBE_RATIO if suspect else REPROBE_RATIO
    cap = SUSPECT_REPROBE_MAX if suspect else REPROBE_MAX
    flagged = [
        n
        for n, sec in timings.items()
        if n in prior
        and sec > ratio * prior[n]
        and sec - prior[n] > REPROBE_MIN_GAP_SEC
    ]
    flagged.sort(key=lambda n: -(timings[n] / max(prior[n], 1e-9)))
    return flagged[:cap]


def format_output(
    timings: dict[str, float],
    sf: float | None,
    detail_path: str,
    line_budget: int = 1800,
    canary: tuple[float, float] | None = None,
    basket: tuple[dict[str, float], dict[str, float]] | None = None,
    reprobes: dict[str, dict[str, float]] | None = None,
    baseline_source: str | None = None,
    prior: dict[str, float] | None = None,
) -> str:
    """Build the ONE JSON line, keeping it parseable by the driver.

    The driver records only the LAST 2000 chars of stdout and tries to
    json-parse the final line; with 160+ registered queries the full
    per-query map is ~5 KB, so rounds 3-6 recorded "parsed": null and
    the judge had to diff truncated tails by hand. The line inlines
    only the slowest-K queries (the tail that matters for regression
    triage) under `line_budget` chars, and the COMPLETE per-query map
    goes to BENCH_DETAIL.json next to this script — the line's
    `detail_file` field names it so the judge can read every number.
    """
    summary = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "n_queries": len(timings),
        # totals grow with registry size every round; the
        # per-query median is the cross-round comparable
        # (statistics.median: true even-n median, not the
        # upper-middle element — ADVICE r05)
        "median_sec": round(statistics.median(timings.values()), 3),
        "excluded": excluded_queries(),
        "sf": sf,
        "detail_file": os.path.basename(detail_path),
    }
    if canary is not None:
        # reported-but-non-gating graph-family datapoint (r14: the
        # verdict moved to the stable-trio basket below)
        summary["canary_query"] = CANARY_QUERY
        summary["canary_pin_sec"] = CANARY_PIN_SEC
        summary["canary_pre_sec"] = canary[0]
        summary["canary_post_sec"] = canary[1]
    if basket is not None:
        # machine-readable run classification so nobody triages
        # per-query "regressions" on a run the basket already
        # condemned (r9: 14 flags, all drift; r10 session 2: four
        # runs, every one suspect). Median-of-trio ratio > 1.2 on
        # either end = the container was not quiet there.
        pre_r, post_r = basket_ratio(basket[0]), basket_ratio(basket[1])
        summary["canary_basket_pins"] = CANARY_BASKET
        summary["canary_basket_pre_sec"] = basket[0]
        summary["canary_basket_post_sec"] = basket[1]
        summary["canary_basket_pre_ratio"] = pre_r
        summary["canary_basket_post_ratio"] = post_r
        worst = max(pre_r, post_r)
        summary["canary_verdict"] = "quiet" if worst <= 1.2 else "suspect"
        if summary["canary_verdict"] == "suspect":
            # which end(s) tripped — the re-probe trigger keys off
            # PRE only (it runs before the post probe can exist), so
            # a post-only suspect means the widened trigger never
            # applied to this run's re-probes (ADVICE r13)
            summary["suspect_source"] = (
                "both"
                if pre_r > 1.2 and post_r > 1.2
                else ("pre" if pre_r > 1.2 else "post")
            )
            # PRIMARY cross-round number on a suspect run (r13
            # What's-wrong #1): scale the total by the MEDIAN
            # per-query ratio vs the committed prior round — drift
            # measured on the workload itself, over every query, so
            # it needs no uniformity assumption about the basket's
            # 3 probes. Falls back to the basket-uniform model only
            # when there is no prior to ratio against.
            common = [
                n for n in timings if n in (prior or {}) and prior[n] > 0
            ]
            if common:
                med = statistics.median(timings[n] / prior[n] for n in common)
                summary["drift_median_query_ratio"] = round(med, 3)
                summary["drift_normalized_total"] = round(
                    summary["value"] / med, 3
                )
            # SECONDARY estimate (the pre-r14 uniform-drift model,
            # kept for continuity): total x 1 / worst basket ratio.
            # When both are present the median-per-query number
            # takes precedence for cross-round comparison.
            summary["drift_normalized_total_basket_uniform"] = round(
                summary["value"] / worst, 3
            )
            if "drift_normalized_total" not in summary:
                summary["drift_normalized_total"] = summary[
                    "drift_normalized_total_basket_uniform"
                ]
    # The PERSISTED `queries` map is the next round's guard baseline
    # (load_prior reads it from the committed detail). When the in-run
    # guard adjudicated a query — re-probed it and found the burst was
    # positional/contention noise — storing the inflated in-run time
    # would ratchet the baseline upward: the next real regression to
    # that inflated level sails under REPROBE_RATIO x baseline forever
    # (VERDICT r11 "What's wrong" #1: scene_cuts committed at 2.096 s
    # with a 0.727 s re-probe on record). So the persisted map carries
    # the adjudicated min(in_run, reprobe); the raw pair stays under
    # `reprobes` for the audit trail, and the headline `value` stays
    # the raw in-run total (cross-round comparable).
    persisted = dict(timings)
    if reprobes is not None:
        summary["n_reprobed"] = len(reprobes)
        for name, r in reprobes.items():
            persisted[name] = min(r["in_run"], r["reprobe"])
        summary["reprobe_adjusted_total"] = round(sum(persisted.values()), 3)
        if reprobes:
            # ADJUDICATED values inline (r14 verdict item 4): the
            # one-line JSON is all the driver's PERF comparison sees,
            # and its `queries` map carries raw in-run numbers — so a
            # contention burst that the in-run guard already
            # adjudicated still read as a regression cross-round.
            # This map carries min(in_run, reprobe) for exactly the
            # re-probed queries (bounded by the re-probe cap, empty on
            # quiet runs); next round's PERF can compare adjudicated
            # to adjudicated without opening BENCH_DETAIL.json.
            summary["queries_adjudicated"] = {
                name: persisted[name] for name in sorted(reprobes)
            }
    if baseline_source is not None:
        summary["baseline_source"] = baseline_source
    with open(detail_path, "w") as f:
        json.dump({**summary, "queries": persisted, "reprobes": reprobes or {}}, f, sort_keys=True)
        f.write("\n")
    inline: dict[str, float] = {}
    for name, sec in sorted(timings.items(), key=lambda kv: -kv[1]):
        inline[name] = sec
        if len(json.dumps({**summary, "queries": inline})) > line_budget:
            del inline[name]
            break
    return json.dumps({**summary, "queries": inline})


if __name__ == "__main__":
    main()
