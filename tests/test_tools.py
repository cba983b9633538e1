"""Tests for the audit tools themselves (tools/plan_audit.py's plan
walker, tools/broadcast_audit.py).

The walker reads the physical plan as a tree of nodes instead of
parsing explain text. These tests pin: (a) a generate-class broadcast
living inside a scalar subquery is found (the walk descends subquery
plans), (b) an explode on a join's stream side is not counted against
the broadcast side, (c) a broadcast whose build side is a cached,
already-materialised relation is judged on that relation's final
plan, (d) the designed quadratic-guard refusal is classified as such,
not as an audit error.
"""

from __future__ import annotations

import pytest
from broadcast_audit import _is_guard_refusal
from plan_audit import generate_class_broadcasts, plan_nodes


@pytest.fixture()
def subquery_broadcast_plan(spark):
    """A scalar subquery whose OWN plan tree carries a generate-class
    broadcast: inside the subquery, an exploded (Generate) relation
    is the build side of a BroadcastHashJoin with no bounding
    aggregate/limit between the explode and the exchange. The outer
    query itself has no broadcast at all."""
    df = spark.range(100).selectExpr(
        "id", "array(id, id + 1, id + 2) AS arr"
    )
    df.createOrReplaceTempView("bt")
    return spark.sql(
        """
        SELECT bt.id,
               (SELECT max(t2.id + e.x)
                FROM bt t2
                JOIN (SELECT explode(arr) AS x FROM bt) e
                  ON t2.id = e.x) AS mx
        FROM bt
        """
    )


def test_walker_catches_subquery_broadcast(spark, subquery_broadcast_plan):
    """The walk descends into the scalar subquery's plan and counts the
    generate-class broadcast inside it."""
    nodes = list(plan_nodes(subquery_broadcast_plan))
    assert "SubqueryExec" in {cls for _, cls, _ in nodes}
    assert generate_class_broadcasts(nodes) == 1


def test_walker_keeps_stream_side_explode_apart(spark):
    """A broadcast whose subtree has NO explode scans clean even though
    the plan explodes elsewhere (on the join's stream side)."""
    small = spark.range(5).selectExpr("id AS k")
    big = spark.range(1000).selectExpr(
        "id", "explode(array(id, id + 1)) AS k"
    )
    nodes = list(plan_nodes(big.join(small.hint("broadcast"), "k")))
    classes = {cls for _, cls, _ in nodes}
    assert {"BroadcastExchangeExec", "GenerateExec"} <= classes
    assert generate_class_broadcasts(nodes) == 0


def test_walker_reads_final_plan_of_materialised_cache(spark):
    """The build side explodes a cached relation that was materialised
    first, itself built on a materialised cache, so both plans are
    FINAL adaptive plans. Explain prints each twice (Final and Initial
    Plan) with the indentation restarted; under a few enclosing joins
    that restart cut the old text scan's subtree short before the
    bounding aggregate (it counted 1 here). The walk follows each
    cached plan once: bounded by the aggregate, 0; the same shape
    without it, 1."""
    from pyspark.sql import functions as F

    ids = spark.range(100)
    for base, want in (
        (ids.groupBy((F.col("id") % 10).alias("g")).agg(F.collect_list("id").alias("ids")), 0),
        (ids.selectExpr("array(id, id + 1) AS ids").repartition(3), 1),
    ):
        base = base.cache()
        base.count()
        side = base.selectExpr("explode(ids) AS k").cache()
        side.count()
        j = spark.range(1000).selectExpr("id AS k").join(side.hint("broadcast"), "k")
        for i in range(3):
            dim = spark.range(50).selectExpr("id AS k", f"id AS v{i}")
            j = j.join(dim.hint("broadcast"), "k")
        nodes = list(plan_nodes(j))
        assert "InMemoryRelation" in {cls for _, cls, _ in nodes}
        assert generate_class_broadcasts(nodes) == want
        side.unpersist()
        base.unpersist()


def test_guard_refusal_classifier():
    """--exempt-audit classifies the designed quadratic-guard
    ValueError (cosine_near_dup_pairs max_rows contract) as
    'guard_refusal_by_design', not 'error' (ADVICE r13 medium)."""
    designed = ValueError(
        "cosine_near_dup_pairs is the O(N²) all-pairs baseline and the "
        "input has > max_rows=5000 rows; use cosine_near_dup_pairs_blocked "
        "/ cosine_near_dup_pairs_lsh for real corpora, or pass "
        "allow_quadratic=True to force it"
    )
    assert _is_guard_refusal(designed)
    assert not _is_guard_refusal(ValueError("some other failure"))
    assert not _is_guard_refusal(RuntimeError("allow_quadratic mentioned"))
