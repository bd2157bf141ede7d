"""Workload definitions: which ops a workload runs, in which seeded order,
and the seeded publish layout.

The ``--seed`` of a run selects only the per-pass key order and the
publish bucketing; the tables are fixed.
"""

from __future__ import annotations

import random

# Scale factor of the tables each workload reads.
SCALE = {"query": "0.1", "publish": "0.01"}

# Query keys, chosen so every layer named in perfbench/README.md is on the
# blocking path of some op: execute-bound scan and aggregate (agg-hash),
# build-bound iterative and eager-collect keys (graph-pagerank,
# join-bloom-prefilter, agg-tukey-fences), a reused ingest artifact behind
# a plan-cache hit (embed-pq-encode), and one-task skew (fn-jwt-parse).
QUERY_KEYS = (
    "agg-hash",
    "graph-pagerank",
    "join-bloom-prefilter",
    "agg-tukey-fences",
    "embed-pq-encode",
    "fn-jwt-parse",
)

# Keys whose build/execute/jobs split is reported on their own.
TRACED_KEYS = (
    "graph-pagerank",
    "join-bloom-prefilter",
    "embed-pq-encode",
    "agg-tukey-fences",
    "fn-jwt-parse",
)

PUBLISH_MODES = ("direct", "staged", "distributed")
PUBLISH_BUCKETS = 64
PUBLISH_TEMPLATE = "$outputDirectory/part$pk.csv"

# JVM heap per workload: sf0.1 queries peak near 2 GB of heap; the
# sf0.01 publish input needs little, and a heap it fills keeps the
# peak-RSS reading from following where G1 happened to stop growing.
DRIVER_MEM = {"query": "3g", "publish": "1g"}

WORKLOADS = {
    "query": QUERY_KEYS,
    "publish": PUBLISH_MODES,
}


def pass_order(workload: str, seed: int, pass_no: int) -> list[str]:
    """Op order of one pass: the query keys shuffled per (seed, pass);
    publish keeps its fixed mode rotation in every pass."""
    ops = list(WORKLOADS[workload])
    if workload == "query":
        random.Random(f"{seed}/{pass_no}").shuffle(ops)
    return ops


def op_sequence(workload: str, seed: int, passes: int) -> list[str]:
    """The ops of the first ``passes`` passes, in run order."""
    return [op for p in range(passes) for op in pass_order(workload, seed, p)]


def bucket_column(seed: int):
    """The publish layout: ``l_orderkey``'s bucket, a seeded xxhash64 taken
    mod ``PUBLISH_BUCKETS``. Each bucket gets ~230 distinct order keys at
    sf0.01, so none is empty."""
    from pyspark.sql import functions as F

    return F.pmod(
        F.xxhash64(F.col("l_orderkey"), F.lit(seed)), F.lit(PUBLISH_BUCKETS)
    )
