"""Fast checks of the benchmark itself (sf0.001, local[2]).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import argparse
import os
from pathlib import Path

import pytest

import workloads as W
from stats import (
    MIN_BEYOND, TAIL_LADDER, harrell_davis, samples_beyond, summarize, tail_percentile,
)

ROOT = Path(__file__).resolve().parents[2]


def test_same_seed_same_sequence():
    assert W.op_sequence("query", 7, 3) == W.op_sequence("query", 7, 3)
    assert W.op_sequence("query", 7, 3) != W.op_sequence("query", 8, 3)
    assert sorted(W.pass_order("query", 7, 0)) == sorted(W.QUERY_KEYS)


def test_publish_rotation_is_fixed():
    assert W.op_sequence("publish", 1, 2) == list(W.PUBLISH_MODES) * 2
    assert W.op_sequence("publish", 1, 2) == W.op_sequence("publish", 2, 2)


def test_tail_rule_keeps_ten_samples_beyond():
    for n in range(1, 400):
        pct, met = tail_percentile(n)
        if met:
            assert samples_beyond(n, pct) >= MIN_BEYOND
            higher = [p for p in TAIL_LADDER if p > pct]
            assert all(samples_beyond(n, p) < MIN_BEYOND for p in higher)
        else:
            assert n < 20 and pct == 50
        assert met == (n >= 20)


def test_summarize_picks_p90_at_100_samples():
    s = summarize([float(i) for i in range(1, 101)])
    assert (s["tail_pct"], s["tail_rule_met"]) == (90, True)
    # Harrell-Davis on 1..n weights the ranks around qn + 1/2
    assert s["tail"] == pytest.approx(90.5, abs=0.01)
    assert s["p50"] == pytest.approx(50.5, abs=1e-6)


def test_harrell_davis_is_a_quantile_estimate():
    assert harrell_davis([3.0] * 7, 0.5) == pytest.approx(3.0)
    vals = [5.0, 1.0, 9.0, 2.0, 7.0]
    assert min(vals) < harrell_davis(vals, 0.1) < harrell_davis(vals, 0.5)
    assert harrell_davis(vals, 0.5) < harrell_davis(vals, 0.9) < max(vals)
    assert harrell_davis([1.0, 2.0, 3.0, 4.0], 0.5) == pytest.approx(2.5)


def _run(workload, data_dir, state_dir):
    import worker

    args = argparse.Namespace(
        workload=workload, seed=3, seconds=1, trace=0, root=str(ROOT),
        data_dir=data_dir, state_dir=str(state_dir), event_dir="", record="",
    )
    run = worker.Run(args)
    run.start()
    return run


def test_wrong_hash_and_exception_count_as_failed(spark_env, data_dir, tmp_path):
    import worker

    run = _run("query", data_dir, tmp_path)
    good = run.run_op("agg-hash", "t0")
    assert good["ok"], good.get("error")
    run.verified = {"agg-hash": good["hash"]}
    run.check(good)
    assert good["ok"]

    bad = run.run_op("agg-hash", "t1")
    run.verified = {"agg-hash": good["hash"] ^ 1}
    run.check(bad)
    assert not bad["ok"] and "verified" in bad["error"]

    broken = run.run_op("no-such-key", "t2")
    run.check(broken)
    assert not broken["ok"] and "KeyError" in broken["error"]

    run.samples, run.busy, run.peak_rss = [good, bad, broken], 1.0, 1.0
    run.setup.update({"setup.warm_s": 0.0})
    e2e, _ = worker.end_to_end(run)
    assert e2e["ok_ratio"] == pytest.approx(1 / 3)
    assert e2e["ops_per_s"] == pytest.approx(1.0)


def test_deleted_target_counts_as_failed(spark_env, data_dir, tmp_path):
    import worker

    run = _run("publish", data_dir, tmp_path)
    run.prepare_publish()
    run.prepare_reference()
    assert not run.prep_errors

    ok = run.run_op("staged", "t0")
    run.check(ok)
    assert ok["ok"], ok.get("error")
    assert ok["files"] == W.PUBLISH_BUCKETS

    rec = run.run_op("direct", "t1")
    assert rec["ok"] and rec["moved"]
    victim = sorted(rec["renames"].values())[0]
    os.remove(worker._local(victim))
    run.check(rec)
    assert not rec["ok"]
    assert "missing" in rec["error"] and rec["rename_failed"] == 1


def test_same_seed_same_layout_and_no_empty_bucket(spark_env, data_dir, tmp_path):
    run = _run("publish", data_dir, tmp_path)
    keys = run.spark.range(0, 15000).withColumnRenamed("id", "l_orderkey")

    def layout(seed):
        rows = keys.select("l_orderkey", W.bucket_column(seed)).collect()
        return {r[0]: r[1] for r in rows}

    for seed in (7, 39, 12345):
        assert set(layout(seed).values()) == set(range(W.PUBLISH_BUCKETS))
    assert layout(7) == layout(7)
    assert layout(7) != layout(8)
