"""Summarize and compare sets of benchmark records.

    python3 perfbench/compare.py summary RECORDS...
    python3 perfbench/compare.py diff BASE NEW

RECORDS, BASE and NEW are record files written by run.py, or directories
of them (``.perfbench/results/``, ``perfbench/baseline/4cpu/``).

``summary`` prints, per workload, each end-to-end metric's median,
quartiles and spread (interquartile distance / median, as
``statistics.quantiles(values, n=4)`` gives them) next to its bound, and
the tracing overhead: the traced runs' end-to-end medians minus the
untraced runs'.

``diff`` pairs two sets per workload and reports each metric's change of
median as a share of the base median, signed so that positive is worse,
against the bound in BENCHMARK.json. It refuses to pair records taken at
different core counts.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
E2E = {m["name"]: m for m in BENCH["end_to_end"]}
HOST_KEYS = ("nproc", "affinity_cpus", "master", "default_parallelism")


def load(paths: list[str]) -> list[dict]:
    files: list[Path] = []
    for p in map(Path, paths):
        files += sorted(p.glob("*.json")) if p.is_dir() else [p]
    return [json.loads(f.read_text()) for f in files]


def cores(records: list[dict]) -> set[tuple]:
    return {tuple(r["host"][k] for k in HOST_KEYS) for r in records}


def by_workload(records: list[dict], trace: int) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in records:
        if r["host"]["trace"] == trace:
            out.setdefault(r["host"]["workload"], []).append(r)
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else 0.0


def summary(records: list[dict]) -> int:
    if len(cores(records)) > 1:
        print(f"refusing: records from different core counts {cores(records)}")
        return 2
    untraced, traced = by_workload(records, 0), by_workload(records, 1)
    for wl, recs in sorted(untraced.items()):
        print(f"{wl}: {len(recs)} runs, seeds {sorted(r['host']['seed'] for r in recs)}, "
              f"failed ops {sum(r['failed'] for r in recs)}")
        for name, spec in E2E.items():
            vals = [r["end_to_end"][name] for r in recs]
            q1, med, q3 = quartiles(vals)
            s = spread(vals)
            flag = "ok" if name == "setup_s" or s < spec["bound"] / 3 else "WIDE"
            line = (f"  {name:12s} median {med:10.4f} {spec['unit']:5s} q1 {q1:10.4f} "
                    f"q3 {q3:10.4f} spread {s:6.3f} bound {spec['bound']:.2f} {flag}")
            trs = traced.get(wl, [])
            if trs:
                tmed = statistics.median(r["per_layer"][f"traced.{name}"] for r in trs)
                line += f"  trace overhead {tmed - med:+.4f} ({len(trs)} traced)"
            print(line)
    return 0


def diff(base: list[dict], new: list[dict]) -> int:
    if cores(base) != cores(new) or len(cores(base)) != 1:
        print(f"refusing: core counts differ: base {cores(base)} new {cores(new)}")
        return 2
    worse = 0
    nb, nn = by_workload(base, 0), by_workload(new, 0)
    for wl in sorted(set(nb) & set(nn)):
        print(f"{wl}: base {len(nb[wl])} runs, new {len(nn[wl])} runs")
        for name, spec in E2E.items():
            bv = [r["end_to_end"][name] for r in nb[wl]]
            nv = [r["end_to_end"][name] for r in nn[wl]]
            bm, nm = statistics.median(bv), statistics.median(nv)
            change = (nm - bm) / bm if bm else 0.0
            if spec["better"] == "higher":
                change = -change
            if change > spec["bound"]:
                verdict = "WORSE"
                worse += 1
            elif name != "setup_s" and spread(bv) > spec["bound"]:
                verdict = "unresolved"
            else:
                verdict = "ok"
            print(f"  {name:12s} base {bm:10.4f} new {nm:10.4f} {spec['unit']:5s} "
                  f"worse by {change:+.3f} (bound {spec['bound']:.2f}) {verdict}")
    return 1 if worse else 0


def main() -> None:
    ap = argparse.ArgumentParser(description="Summarize or compare benchmark records.")
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("summary")
    s.add_argument("records", nargs="+")
    d = sub.add_parser("diff")
    d.add_argument("base")
    d.add_argument("new")
    args = ap.parse_args()
    if args.cmd == "summary":
        sys.exit(summary(load(args.records)))
    sys.exit(diff(load([args.base]), load([args.new])))


if __name__ == "__main__":
    main()
