"""One-off scale-trend probe (VERDICT r3 item #9).

Builds a 10x-replicated copy of the sf0.1 tables (ids offset per
copy so key cardinalities scale too) under .scratch/sf1x/, then
times one representative query per operator family at sf0.1 and at
the 10x corpus, printing the per-family wall-clock scaling factor.

This synthetic corpus exists ONLY to measure the growth exponent of
each family's plan (is it ~linear as designed, or super-linear?);
all correctness checks stay on the driver-generated testdata.

Usage: python tools/scale_probe.py [replication] [families...]
       python tools/scale_probe.py [replication] --perturb [families...]

--perturb (r11 verdict item 4): id-offset replication makes every
document an exact rep-way duplicate, so any PAIR-EMITTING spelling's
OUTPUT grows as C(rep, 2) — a corpus artifact, not an algorithmic
exponent (the r11 x100 exclusions). The perturbed build keeps
replica 0 pristine and deterministically mutates replicas 1..rep-1
(~1/7 of tokens get a replica-tag suffix at replica-dependent
positions, digits rotate by a per-replica amount), so cross-replica
near-dup pairs vanish while WITHIN-replica planted duplicates — the
thing the operators detect — still scale linearly with rep. That
makes scrub/span/minhash/containment probes at x100 measure the
ALGORITHM, not the replication geometry.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, ".")

BASE = "/root/testdata/sf0.1"
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")

# id column to offset per replica, per table (None = replicate as-is)
ID_OFFSETS = {
    "documents": ("doc_id", 1_000_000),
    "embeddings": ("vec_id", 1_000_000),
    "events": ("event_id", 100_000_000),
    "orders": ("o_orderkey", 100_000_000),
    "lineitem": ("l_orderkey", 100_000_000),
    "customer": ("c_custkey", 10_000_000),
    "supplier": ("s_suppkey", 10_000_000),
    "part": ("p_partkey", 10_000_000),
    # tiny dims: copy once, unreplicated
    "region": None,
    "nation": None,
}


def _perturb_text(p, i: int):
    """Deterministic per-replica text mutation (replica 0 pristine):
    every 7th token (replica-dependent phase) gets an `_r{i}` suffix,
    and digits rotate by i%9+1 — so two distinct replicas differ on
    >= 1/7 of tokens and ALL digit-bearing grams, killing
    cross-replica shingle/gram matches while leaving within-replica
    duplicate structure (the planted near-dups) intact."""
    from pyspark.sql import functions as F

    if i == 0:
        return p
    digits = "0123456789"
    rot = (i % 9) + 1  # never identity
    toks = F.split(F.col("text"), " ")
    tag = F.lit(f"_r{i}")
    mutated = F.transform(
        toks,
        lambda t, idx: F.when(
            idx % F.lit(7) == F.lit(i % 7), F.concat(t, tag)
        ).otherwise(t),
    )
    return p.withColumn(
        "text",
        F.translate(F.array_join(mutated, " "), digits, digits[rot:] + digits[:rot]),
    )


def build(spark, rep: int, out_dir: str, perturb: bool = False) -> None:
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    for name, spec in ID_OFFSETS.items():
        src = os.path.join(BASE, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        if os.path.exists(dst):
            continue
        df = spark.read.parquet(src)
        if spec is None:
            df.write.mode("overwrite").parquet(dst)
            continue
        id_col, stride = spec
        parts = []
        for i in range(rep):
            p = df
            for c, s in [(id_col, stride)]:
                p = p.withColumn(c, F.col(c) + F.lit(i * s))
            if perturb and name == "documents":
                p = _perturb_text(p, i)
            # user-scoped tables also need their user keys offset so
            # group cardinality scales with the data
            if name == "events":
                p = p.withColumn("user_id", F.col("user_id") + F.lit(i * 1_000_000))
            if name == "orders":
                p = p.withColumn("o_custkey", F.col("o_custkey") + F.lit(i * 10_000_000))
            if name == "lineitem":
                p = p.withColumn("l_suppkey", F.col("l_suppkey") + F.lit(i * 10_000_000))
                p = p.withColumn("l_partkey", F.col("l_partkey") + F.lit(i * 10_000_000))
            parts.append(p)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(32).write.mode("overwrite").parquet(dst)


def main() -> None:
    args = sys.argv[1:]
    perturb = "--perturb" in args
    args = [a for a in args if a != "--perturb"]
    # replication count is optional even when family names follow:
    # `scale_probe.py --perturb increpeats` keeps the default rep
    # (ADVICE r12 — int('increpeats') used to crash here)
    if args and args[0].isdigit():
        rep = int(args[0])
        args = args[1:]
    else:
        rep = 10
    from joblink_etl_spark.plans import registry
    from joblink_etl_spark.session import get_spark

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    # same Python-worker/Arrow warm-up fence as bench.py: without it
    # the first pandas-UDF family in the session carries the ~1.8 s
    # 32-worker pool spin-up in its sf0.1 arm and flatters its factor
    from bench import _py_worker_warmup

    _py_worker_warmup(spark)
    out_dir = os.path.join(SCRATCH, f"sf1x{rep}" + ("p" if perturb else ""))
    build(spark, rep, out_dir, perturb=perturb)

    # one representative query per family (its register() line declares
    # family=), chosen to exercise the family's characteristic
    # shuffle/join shape end-to-end
    families = {s.family: (n, s.fn) for n, s in registry.specs().items() if s.family}
    only = set(args)  # optional family-name filter (rep already consumed)
    results = {}
    for fam, (qname, fn) in families.items():
        if only and fam not in only:
            continue
        times = {}
        for label, d in [("sf0.1", BASE), (f"x{rep}", out_dir)]:
            t0 = time.perf_counter()
            fn(spark, d).write.mode("overwrite").format("noop").save()
            times[label] = round(time.perf_counter() - t0, 2)
            spark.catalog.clearCache()
        times["factor"] = round(times[f"x{rep}"] / max(times["sf0.1"], 0.01), 2)
        results[fam] = {"query": qname, **times}
        print(json.dumps({fam: results[fam]}))
    print(json.dumps({"replication": rep, "families": results}))


if __name__ == "__main__":
    main()
