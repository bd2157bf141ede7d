"""Benchmark launcher: one run of one workload.

    python3 perfbench/run.py --workload query --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It generates the tables once under
``.perfbench/`` (see datagen.py), prepares the environment the engine
runs in, starts ``worker.py`` in its own process group, waits for it,
stops anything it left behind, and prints the result: a readable summary
on stderr and, as the last line of stdout, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics and ``--trace 1`` the per-layer ones.

The environment set here, not in the engine:

* ``PYTHONPATH`` holds the checkout root, so Spark's Python workers
  import ``spark_file_mover_spark`` whatever the working directory;
* ``SPARK_GRAFT_CPUS`` = the CPUs this process may use, so the session
  runs ``local[N]`` with one task slot per core;
* ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM's ``java.io.tmpdir`` sit
  under ``.perfbench/`` so a run writes only inside its checkout;
* with ``--trace 1``, ``PYSPARK_SUBMIT_ARGS`` turns on an uncompressed
  Spark event log (the Spark UI stays off).

Every run's full record (host, per-op samples, errors, and per-layer
numbers when traced) is kept under ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import workloads as W  # noqa: E402

RUN_TIMEOUT_S = 170
FIRST_RUN_TIMEOUT_S = 860
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text()) if (
    ROOT / "BENCHMARK.json"
).exists() else None


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def ensure_data(state: Path, sf: str) -> Path:
    data = state / "data" / f"sf{sf}"
    if not (data / "_DONE").exists():
        tmp = state / "data" / f".sf{sf}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(data, ignore_errors=True)
        datagen.write_tables(str(tmp), float(sf))
        tmp.rename(data)
    return data


def worker_env(state: Path, workload: str, event_dir: Path | None) -> dict[str, str]:
    env = dict(os.environ)
    tmp = state / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), env.get("PYTHONPATH", "")) if p
    )
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    heap = W.DRIVER_MEM[workload]
    env["SPARK_GRAFT_DRIVER_MEM"] = heap
    env["SPARK_LOCAL_DIRS"] = str(state / "spark-local")
    env["TMPDIR"] = str(tmp)
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env["PYTHONHASHSEED"] = "0"
    # A fixed heap (initial = maximum) keeps G1 from resizing it at
    # run-dependent moments; defaultJavaOptions is prepended to the
    # engine's own spark.driver.extraJavaOptions instead of replacing it.
    submit = [f"--conf spark.driver.defaultJavaOptions=-Xms{heap}"]
    if event_dir is not None:
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{event_dir}",
            "--conf spark.eventLog.compress=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    return env


def _group_alive(pgid: int) -> list[int]:
    alive = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            alive.append(int(pid))
    return alive


def stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in the worker's group,
    and wait until none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def run_worker(cmd: list[str], env: dict[str, str], log_path: Path, timeout: float):
    """Run one worker in its own process group, appending to ``log_path``;
    its exit code, or None on timeout. Nothing of the group outlives it."""
    with open(log_path, "a") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            stop_group(proc.pid)
            proc.wait()


def summary_line(record: dict, metrics: dict) -> str:
    host = record["host"]
    parts = [
        f"{host['workload']} seed={host['seed']} {host['master']} "
        f"ops={record['attempted']} failed={record['failed']} "
        f"tail=p{record['latency']['tail_pct']}"
        f"{'' if record['latency']['tail_rule_met'] else '(n<20)'}"
    ]
    parts += [f"{k}={v['value']:.4g}{v['unit']}" for k, v in metrics.items()]
    return "  ".join(parts)


def main() -> None:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "spark_file_mover_spark" / "registry.py").is_file():
        fail(f"no spark_file_mover_spark package under {ROOT}; run from a checkout")
    if not (ROOT / "tests" / "parity.py").is_file():
        fail(f"no tests/parity.py under {ROOT}; run from a checkout")
    if BENCH is None:
        fail("BENCHMARK.json missing")

    t_start = time.monotonic()
    state = ROOT / ".perfbench"
    first_gate = not (state / "verified").is_dir()
    deadline = t_start + (FIRST_RUN_TIMEOUT_S if first_gate else RUN_TIMEOUT_S)
    data = ensure_data(state, W.SCALE[args.workload])
    event_dir = None
    if args.trace:
        event_dir = state / "eventlog"
        shutil.rmtree(event_dir, ignore_errors=True)
        event_dir.mkdir(parents=True)
    results = state / "results"
    results.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}"
    record_path = results / f"{name}.json"
    log_path = results / f"{name}.log"

    cmd = [
        sys.executable, "-u", str(HERE / "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--root", str(ROOT), "--data-dir", str(data),
        "--state-dir", str(state), "--record", str(record_path),
        "--event-dir", str(event_dir or ""),
    ]
    env = worker_env(state, args.workload, event_dir)
    rc = 0
    if first_gate and args.workload == "query":
        # The DuckDB compare runs once per checkout in a worker of its own,
        # so that no measured run carries its memory or its JVM state.
        rc = run_worker(
            cmd + ["--verify-only"], worker_env(state, args.workload, None),
            log_path, deadline - time.monotonic(),
        )
    if rc == 0:
        rc = run_worker(cmd, env, log_path, deadline - time.monotonic())
    shutil.rmtree(state / "spark-local", ignore_errors=True)
    if rc != 0 or not record_path.exists():
        tail = log_path.read_text(errors="replace").splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        why = "timed out" if rc is None else f"exited with {rc}"
        fail(f"worker {why}; log: {log_path}", 1)

    record = json.loads(record_path.read_text())
    section = "per_layer" if args.trace else "end_to_end"
    values = record[section]
    metrics = {}
    for spec in BENCH[section]:
        if spec["name"] not in values:
            fail(f"worker did not report {spec['name']}", 1)
        metrics[spec["name"]] = {"value": values[spec["name"]], "unit": spec["unit"]}
    for msg in record["prep_errors"] + [e["error"] for e in record["errors"]]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(summary_line(record, metrics if not args.trace else {}), file=sys.stderr)
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
