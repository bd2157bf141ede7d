"""One benchmark run inside the environment ``run.py`` prepared.

Phases, in order:

1. set-up (timed as ``setup_s``): ``get_spark``, ``registry.load_all``
   and one first invocation of every op of the workload;
2. correctness preparation (untimed): the query keys' DuckDB-verified
   hashes (cached; ``run.py`` fills the cache in a process of its own
   first, see ``--verify-only``), or the publish input's reference copy;
   the first invocations are checked against them;
3. the timed closed loop: one client, whole passes until the ops' busy
   time reaches ``--seconds``; each op is checked, untimed, right after;
4. peak memory, session stop, and with ``--trace 1`` the per-layer
   numbers from spans and the event log.

The record (metrics, host, per-op samples, failures) is written as JSON
to ``--record``; spans go beside it.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import sys
import time
import traceback
from collections import defaultdict

from stats import summarize
from tracing import (
    Tracer,
    capture_listings,
    event_log_files,
    group_totals,
    install_filemover_spans,
    install_plan_cache_counter,
    read_event_log,
)
import verify
import workloads as W


class Run:
    def __init__(self, args):
        self.args = args
        self.wl = args.workload
        self.tracer = Tracer(enabled=bool(args.trace))
        self.sf_dir = args.data_dir
        self.setup: dict[str, float] = {}
        self.samples: list[dict] = []
        self.listings: list[tuple[str, int]] = []
        self.prep_errors: list[str] = []

    # -- set-up ------------------------------------------------------------

    def start(self) -> None:
        t0 = time.perf_counter()
        from spark_file_mover_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.wl}")
        self.sc = self.spark.sparkContext
        t1 = time.perf_counter()
        from spark_file_mover_spark import filemover, registry

        if self.tracer.enabled:
            install_plan_cache_counter(self.tracer)
        registry.load_all()
        t2 = time.perf_counter()
        self.registry, self.filemover = registry, filemover
        capture_listings(self.listings)
        if self.tracer.enabled:
            install_filemover_spans(self.tracer)
        self.setup["session.start_s"] = t1 - t0
        self.setup["registry.load_s"] = t2 - t1

    def warm(self) -> None:
        """First invocation of every op, timed into set-up; its checks run
        afterwards, untimed."""
        if self.wl == "publish":
            self.prepare_publish()
        self.warm_recs = [
            self.run_op(op, f"warm-{op}") for op in W.WORKLOADS[self.wl]
        ]
        self.setup["setup.warm_s"] = sum(r["latency_s"] for r in self.warm_recs)

    # -- ops ---------------------------------------------------------------

    def group(self, op_id: str, phase: str) -> None:
        if self.tracer.enabled:
            self.sc.setJobGroup(f"{self.wl}/{op_id}/{phase}", phase)

    def run_op(self, op: str, op_id: str) -> dict:
        rec = {"op": op, "id": op_id, "ok": True}
        self.tracer.op = op_id
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op"):
                if self.wl == "query":
                    self.query_op(op, op_id, rec)
                else:
                    self.publish_op(op, op_id, rec)
        except Exception as ex:  # a failed op is counted, never fatal
            rec["ok"] = False
            rec["error"] = f"{type(ex).__name__}: {str(ex)[:300]}"
            traceback.print_exc()
        rec["latency_s"] = time.perf_counter() - t0
        return rec

    def query_op(self, key: str, op_id: str, rec: dict) -> None:
        fn, span = self.registry.QUERIES[key], self.tracer.span
        self.group(op_id, "build")
        with span(f"{_package(fn)}.build"):
            df = fn(self.spark, self.sf_dir)
        mdf = verify.hash_frame(df)
        self.group(op_id, "execute")
        if self.tracer.enabled:
            with span("spark.plan"):
                mdf._jdf.queryExecution().executedPlan()  # reused by the collect
        with span("spark.execute"):
            rec["hash"] = mdf.collect()[0][0] or 0

    def prepare_publish(self) -> None:
        from spark_file_mover_spark.sources.io import load_table

        src = load_table(self.spark, self.sf_dir, "lineitem")
        self.publish_df = src.withColumn("pk", W.bucket_column(self.args.seed))
        self.publish_root = os.path.join(self.args.state_dir, "publish")
        shutil.rmtree(self.publish_root, ignore_errors=True)
        os.makedirs(self.publish_root)

    def publish_op(self, mode: str, op_id: str, rec: dict) -> None:
        fm = self.filemover
        out = os.path.join(self.publish_root, op_id)
        rec["out"] = out
        self.listings.clear()
        self.group(op_id, "write")
        if mode in ("direct", "staged"):
            res = fm.write_single_file(
                self.publish_df, out, W.PUBLISH_TEMPLATE,
                partition_by=["pk"], staged=(mode == "staged"),
            )
            rec["moved"], rec["renames"] = res.moved, dict(res.renames)
        else:
            (
                self.publish_df.coalesce(1).write.mode("overwrite")
                .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
                .partitionBy("pk").format("csv").save(out)
            )
            self.group(op_id, "move")
            manifest, moved = fm.execute_moves_distributed(
                self.spark, out, W.PUBLISH_TEMPLATE
            )
            rec["moved"], rec["manifest_df"] = moved, manifest
        rec["sizes"] = {_rel(p): s for p, s in self.listings}

    # -- correctness -------------------------------------------------------

    def check_query(self, rec: dict) -> None:
        want = self.verified.get(rec["op"])
        if rec["ok"] and rec.get("hash") != want:
            rec["ok"] = False
            rec["error"] = f"hash {rec.get('hash')} != verified {want}"

    def check_publish(self, rec: dict) -> None:
        """Untimed layout check after a publish op; any exception or
        mismatch fails the op."""
        self.group(rec["id"], "check")
        try:
            if rec["ok"]:
                problems = self.layout_problems(rec)
                if problems:
                    rec["ok"] = False
                    rec["error"] = "; ".join(problems[:5])
        except Exception as ex:
            rec["ok"] = False
            rec["error"] = f"check: {type(ex).__name__}: {str(ex)[:300]}"
        finally:
            rec.pop("manifest_df", None)
            rec.pop("renames", None)
            rec.pop("sizes", None)
            shutil.rmtree(rec.get("out", ""), ignore_errors=True)

    def layout_problems(self, rec: dict) -> list[str]:
        problems = []
        if not rec.get("moved"):
            problems.append("moved is false")
        if "manifest_df" in rec:
            rows = rec["manifest_df"].collect()
            plan = {r["source"]: r["target"] for r in rows}
            bad = sum(r["status"] == "failed" for r in rows)
            if bad:
                problems.append(f"{bad} manifest renames failed")
        else:
            plan, bad = rec.get("renames", {}), 0
        sizes = rec.get("sizes", {})
        rec["files"] = len(plan)
        if len(plan) != W.PUBLISH_BUCKETS:
            problems.append(f"{len(plan)} planned files, want {W.PUBLISH_BUCKETS}")
        missing = wrong = 0
        for src, dst in plan.items():
            dst_p, src_p = _local(dst), _local(src)
            want = sizes.get(_rel(src))
            if want is None:
                problems.append(f"no listed size for {_rel(src)}")
            if not os.path.isfile(dst_p) or os.path.getsize(dst_p) != want:
                missing += 1
            elif _lines_digest(dst_p) != self.reference.get(_rel(src).split("/")[0]):
                wrong += 1
            if os.path.exists(src_p):
                problems.append(f"source remains: {src_p}")
        rec["rename_failed"] = max(bad, missing)
        if missing:
            problems.append(f"{missing} targets missing or of wrong size")
        if wrong:
            problems.append(f"{wrong} landed files differ from the input's rows")
        for _root, dirs, _files in os.walk(rec["out"]):
            if any(d.startswith(".__staging__-") for d in dirs):
                problems.append("staging dir remains")
        return problems

    def prepare_reference(self) -> None:
        """Write the input once with the plain Spark writer, check that its
        read-back hashes equal to the input, and keep each ``pk=<n>``
        file's sorted-lines digest: a landed file must match its bucket's."""
        ref = os.path.join(self.publish_root, "reference")
        (
            self.publish_df.coalesce(1).write.mode("overwrite")
            .partitionBy("pk").format("csv").save(ref)
        )
        cols = self.publish_df.columns
        # list the bucket dirs in this process, not with a Spark listing job
        conf = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        prev = self.spark.conf.get(conf)
        self.spark.conf.set(conf, str(10 * W.PUBLISH_BUCKETS))
        try:
            back = self.spark.read.schema(self.publish_df.drop("pk").schema).csv(ref)
            got = _hash_count(back.select(*cols))
        finally:
            self.spark.conf.set(conf, prev)
        want = _hash_count(self.publish_df)
        if got != want:
            self.prep_errors.append(f"reference read-back {got} != input {want}")
        self.reference = {}
        for d in (d for d in os.listdir(ref) if d.startswith("pk=")):
            files = [f for f in os.listdir(os.path.join(ref, d)) if f.endswith(".csv")]
            if len(files) == 1:
                self.reference[d] = _lines_digest(os.path.join(ref, d, files[0]))
        if len(self.reference) != W.PUBLISH_BUCKETS:
            self.prep_errors.append(
                f"reference has {len(self.reference)} single-file buckets"
            )

    def prepare_checks(self) -> None:
        self.group("prep", "check")
        if self.wl == "query":
            self.verified, errors = verify.verified_hashes(
                self.spark, self.registry, self.sf_dir, W.QUERY_KEYS,
                self.args.state_dir, self.args.root,
            )
            self.prep_errors += errors
        else:
            self.prepare_reference()
        self.check_unsampled(self.warm_recs)

    def check_unsampled(self, recs: list[dict]) -> None:
        """Check ops that are not timed samples; a failure fails the run."""
        for rec in recs:
            self.check(rec)
            if not rec["ok"]:
                self.prep_errors.append(f"{rec['id']}: {rec.get('error')}")

    def check(self, rec: dict) -> None:
        t0 = time.perf_counter()
        if self.wl == "query":
            self.check_query(rec)
        else:
            self.check_publish(rec)
        rec["check_s"] = time.perf_counter() - t0

    # -- loop ----------------------------------------------------------------

    def loop(self) -> None:
        busy, p = 0.0, 0
        while busy < self.args.seconds:
            for op in W.pass_order(self.wl, self.args.seed, p):
                rec = self.run_op(op, f"p{p}-{op}")
                busy += rec["latency_s"]
                self.check(rec)
                self.samples.append(rec)
            p += 1
        self.passes = p
        self.busy = busy


def _rel(path: str) -> str:
    """``pk=<n>/<file>``: a written file's path relative to the written
    root, the same for the staged and the unstaged layout."""
    return "/".join(path.split("/")[-2:])


def _local(path: str) -> str:
    return path[len("file:"):] if path.startswith("file:") else path


def _hash_count(df) -> tuple[int, int]:
    row = verify.hash_frame(df, with_count=True).collect()[0]
    return (row[0] or 0, row[1])


def _lines_digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(b"".join(sorted(fh.readlines()))).hexdigest()


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM child, from /proc."""
    total_kb = _vmhwm_kb(os.getpid())
    me = str(os.getpid())
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            if fields[1] != me:
                continue
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"java" not in fh.read().split(b"\0")[0]:
                    continue
        except OSError:
            continue
        total_kb += _vmhwm_kb(int(pid))
    return total_kb / 1024.0


def _vmhwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def host_record(spark, args) -> dict:
    sc = spark.sparkContext
    return {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "spark_local_dirs": os.environ.get("SPARK_LOCAL_DIRS", ""),
        "jvm_heap": spark.conf.get("spark.driver.memory"),
        "seed": args.seed,
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
    }


def end_to_end(run: Run) -> dict[str, float]:
    ok = [s for s in run.samples if s["ok"]]
    lat = summarize([s["latency_s"] for s in run.samples])
    setup_s = (
        run.setup["session.start_s"]
        + run.setup["registry.load_s"]
        + run.setup["setup.warm_s"]
    )
    return {
        "setup_s": setup_s,
        "ops_per_s": len(ok) / run.busy,
        "op_p50_s": lat["p50"],
        "op_tail_s": lat["tail"],
        "ok_ratio": len(ok) / len(run.samples),
        "peak_rss_mb": run.peak_rss,
    }, lat


def per_layer(run: Run, e2e: dict, cores: int) -> dict[str, float]:
    """Per-layer numbers of a traced run. Times and counts are means per
    timed op of the named group; ``*.build_s`` sums per pass."""
    jobs, stages = read_event_log(event_log_files(run.args.event_dir))
    m: dict[str, float] = dict(run.setup)
    samples = run.samples
    n = len(samples)
    passes = run.passes
    pkg_build = defaultdict(float)
    pkg_jobs = defaultdict(float)
    ex = defaultdict(float)
    per_key = defaultdict(lambda: defaultdict(float))
    fm = defaultdict(float)
    wl = run.wl
    for s in samples:
        op_id, op = s["id"], s["op"]
        b = group_totals(jobs, stages, f"{wl}/{op_id}/build")
        e = group_totals(jobs, stages, f"{wl}/{op_id}/execute")
        w = group_totals(jobs, stages, f"{wl}/{op_id}/write")
        mv = group_totals(jobs, stages, f"{wl}/{op_id}/move")
        selfs = run.tracer.self_times(op_id)
        if wl == "query":
            pkg = _package(run.registry.QUERIES[op])
            build_s = selfs.get(f"{pkg}.build", 0.0)
            execute_s = selfs.get("spark.execute", 0.0)
            pkg_build[pkg] += build_s
            pkg_jobs[pkg] += b.get("jobs", 0)
            ex["plan_s"] += selfs.get("spark.plan", 0.0)
            ex["execute_s"] += execute_s
            run_groups = (e,)
            if op in W.TRACED_KEYS:
                k = per_key[op]
                k["n"] += 1
                k["build_s"] += build_s
                k["execute_s"] += execute_s
                k["jobs"] += b.get("jobs", 0) + e.get("jobs", 0)
                k["task_skew"] = max(k["task_skew"], e.get("task_skew", 1.0))
        else:
            write_s = w.get("job_s", 0.0)
            fm["write_s"] += write_s
            fm["list_s"] += selfs.get("filemover.list_output_files", 0.0)
            fm["plan_s"] += selfs.get("filemover.plan_moves", 0.0) + selfs.get(
                "filemover.has_collisions", 0.0
            )
            fm["files"] += s.get("files", 0)
            fm["rename_failed"] += s.get("rename_failed", 0)
            if op == "direct":
                fm["rename_s"] += selfs.get("filemover.move_files", 0.0)
                fm["direct_n"] += 1
            elif op == "staged":
                # renames run inside the private staged publish: report the
                # unsplit remainder of write_single_file instead
                fm["staged_rest_s"] += (
                    selfs.get("filemover.write_single_file", 0.0) - write_s
                )
                fm["staged_n"] += 1
            else:
                fm["distributed_s"] += selfs.get(
                    "filemover.execute_moves_distributed", 0.0
                )
                fm["plan_df_s"] += selfs.get("filemover.plan_moves_df", 0.0)
                fm["distributed_n"] += 1
            run_groups = (w, mv)
        for g in run_groups:
            for key in ("jobs", "stages", "tasks", "failed_tasks", "task_busy_s",
                        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
                ex[key] += g.get(key, 0)
            ex["task_skew"] = max(ex["task_skew"], g.get("task_skew", 1.0))
            ex["job_s"] += g.get("job_s", 0.0)
    for pkg in ("operators", "llm", "functions"):
        m[f"{pkg}.build_s"] = pkg_build[pkg] / passes
    for pkg in ("operators", "llm"):
        m[f"{pkg}.build_jobs"] = pkg_jobs[pkg] / passes
    calls = run.tracer.plan_cache_calls
    m["sources.io.plan_cache_calls"] = calls
    m["sources.io.plan_cache_hit_ratio"] = run.tracer.plan_cache_hits / calls if calls else 0.0
    m["spark.plan_s"] = ex["plan_s"] / n
    m["spark.execute_s"] = ex["execute_s"] / n
    for key in ("jobs", "stages", "tasks", "failed_tasks", "task_busy_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{key}"] = ex[key] / n
    m["spark.task_skew"] = ex["task_skew"]
    m["spark.slot_busy_ratio"] = (
        ex["task_busy_s"] / (ex["job_s"] * cores) if ex["job_s"] else 0.0
    )
    files = fm["files"]
    m["spark.write_s"] = fm["write_s"] / n
    m["filemover.list_s"] = fm["list_s"] / n
    m["filemover.list_ms_per_file"] = 1000.0 * fm["list_s"] / files if files else 0.0
    m["filemover.plan_s"] = fm["plan_s"] / n
    m["filemover.files"] = files / n
    m["filemover.rename_s"] = fm["rename_s"] / fm["direct_n"] if fm["direct_n"] else 0.0
    m["filemover.staged_rest_s"] = (
        fm["staged_rest_s"] / fm["staged_n"] if fm["staged_n"] else 0.0
    )
    m["filemover.distributed_s"] = (
        fm["distributed_s"] / fm["distributed_n"] if fm["distributed_n"] else 0.0
    )
    m["filemover.plan_df_s"] = (
        fm["plan_df_s"] / fm["distributed_n"] if fm["distributed_n"] else 0.0
    )
    m["filemover.rename_failed"] = fm["rename_failed"]
    for key in W.TRACED_KEYS:
        k = per_key.get(key, {})
        cnt = k.get("n", 0) or 1
        m[f"{key}.build_s"] = k.get("build_s", 0.0) / cnt
        m[f"{key}.execute_s"] = k.get("execute_s", 0.0) / cnt
        m[f"{key}.jobs"] = k.get("jobs", 0) / cnt
    m["fn-jwt-parse.task_skew"] = per_key.get("fn-jwt-parse", {}).get("task_skew", 0.0)
    for name, value in e2e.items():
        m[f"traced.{name}"] = value
    return m


def _package(fn) -> str:
    mod = getattr(fn, "__wrapped__", fn).__module__
    return mod.split(".")[1]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--state-dir", required=True)
    ap.add_argument("--event-dir", default="")
    ap.add_argument("--record", required=True)
    ap.add_argument("--verify-only", action="store_true",
                    help="fill the verified-hash cache of the query keys and exit")
    args = ap.parse_args()

    run = Run(args)
    if args.verify_only:
        run.start()
        _, errors = verify.verified_hashes(
            run.spark, run.registry, run.sf_dir, W.QUERY_KEYS, args.state_dir, args.root
        )
        run.spark.stop()
        # a failed compare caches nothing: the measured run repeats it and
        # counts it against the run
        for msg in errors:
            print(f"perfbench: {msg}", file=sys.stderr)
        return 0
    stamps = [("begin", time.perf_counter())]
    for phase in (run.start, run.warm, run.prepare_checks, run.loop):
        phase()
        stamps.append((phase.__name__, time.perf_counter()))
    run.peak_rss = peak_rss_mb()
    host = host_record(run.spark, args)
    run.spark.stop()
    stamps.append(("stop", time.perf_counter()))
    e2e, lat = end_to_end(run)
    failed = [s for s in run.samples if not s["ok"]]
    record = {
        "host": host,
        "correct": not failed and not run.prep_errors,
        "attempted": len(run.samples),
        "failed": len(failed),
        "fail_ratio": len(failed) / len(run.samples),
        "prep_errors": run.prep_errors,
        "errors": [{"id": s["id"], "error": s.get("error")} for s in failed][:20],
        "latency": lat,
        "passes": run.passes,
        "busy_s": run.busy,
        "setup": run.setup,
        "phase_s": {b[0]: b[1] - a[1] for a, b in zip(stamps, stamps[1:])},
        "end_to_end": e2e,
        "samples": [
            {k: v for k, v in s.items() if k in (
                "op", "id", "ok", "latency_s", "files", "check_s")}
            for s in run.samples
        ],
    }
    if args.trace:
        record["per_layer"] = per_layer(run, e2e, host["default_parallelism"])
        run.tracer.dump(os.path.splitext(args.record)[0] + ".spans.jsonl")
    with open(args.record, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    sys.exit(main())
