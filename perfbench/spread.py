#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py run --workload extract_batch --seeds 1-10 --seconds 18 --out set1.jsonl
    python3 perfbench/spread.py show set1.jsonl [set2.jsonl]

``run`` runs the benchmark once per seed, one run at a time, and appends
each run's result line, detail record and total run time to the JSONL
file.  ``show`` prints, per workload and metric, the median over the
runs and the quartile spread (Q3 - Q1, from
``statistics.quantiles(values, n=4)``) as a share of the median; given a
second set, it adds that set's median and its change from the first
set's, as a share of the first set's.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(args) -> None:
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
        detail = next((json.loads(x[len("detail "):]) for x in lines if x.startswith("detail ")), {})
        rec = {"workload": args.workload, "seed": seed, "run_s": time.perf_counter() - t0,
               "result": json.loads(lines[-1]), "detail": detail}
        with open(args.out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        m = rec["result"]["metrics"]
        print(f"{args.workload} seed {seed}: {rec['run_s']:.1f} s run, correct={rec['result']['correct']}, "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in m.items()), flush=True)


def load(path: str) -> dict[str, dict[str, list[float]]]:
    """workload -> metric -> values, plus the total run time as ``run_s``."""
    out: dict[str, dict[str, list[float]]] = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            per = out.setdefault(rec["workload"], {})
            for k, v in rec["result"]["metrics"].items():
                per.setdefault(k, []).append(v["value"])
            per.setdefault("run_s", []).append(rec["run_s"])
    return out


def iqr_share(values: list[float]) -> float:
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def show(paths: list[str]) -> None:
    sets = [load(p) for p in paths]
    for wl, metrics in sets[0].items():
        for name, values in metrics.items():
            med = statistics.median(values)
            row = f"{wl:16s} {name:20s} n={len(values):2d} median={med:12.4f} spread={100 * iqr_share(values):5.1f}%"
            for other in sets[1:]:
                ov = other.get(wl, {}).get(name)
                if ov:
                    om = statistics.median(ov)
                    row += f" | n={len(ov):2d} median={om:12.4f} spread={100 * iqr_share(ov):5.1f}%"
                    row += f" change={100 * (om - med) / med:+5.1f}%" if med else ""
            print(row)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    r.add_argument("--seconds", type=float, required=True)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out", required=True)
    s = sub.add_parser("show")
    s.add_argument("paths", nargs="+")
    args = ap.parse_args()
    if args.cmd == "run":
        run(args)
    else:
        show(args.paths)


if __name__ == "__main__":
    main()
