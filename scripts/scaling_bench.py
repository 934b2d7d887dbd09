#!/usr/bin/env python
"""Two-cluster-size scaling benchmark (north rule evidence).

A real N-vs-4N executor cluster is unavailable in this sandbox, so the
same ``spark-submit --py-files`` job runs at two parallelism levels —
``local[8]`` (N) and ``local[32]`` (4N) — on the SAME input, and this
script reports throughput at both plus scaling efficiency
(T_4N / T_N) / 4, writing BENCH/BASELINE.md.

Usage: python scripts/scaling_bench.py [--convs 20000] [--n 8] [--xn 32]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "accelerated_intelligent_document_processing_on_aws_spark"
sys.path.insert(0, REPO)

from accelerated_intelligent_document_processing_on_aws_spark.sources.session import (  # noqa: E402
    driver_memory,
)


def build_pyfiles_zip(path: str) -> str:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        pkg_dir = os.path.join(REPO, PKG)
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    return path


def run_at(
    cores: int, corpus: str, workdir: str, pyfiles: str, pin: str | None = None
) -> dict:
    out = os.path.join(workdir, f"out_{cores}_{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    # Pin the whole process tree (JVM + python workers) to a fixed CPU
    # set: both parallelism levels then measure their own core budget
    # instead of floating across whatever the host scheduler grants —
    # the round-3 six-sample spread (0.639-0.954) was dominated by the
    # unpinned local[8] colliding with host neighbors.
    prefix = ["taskset", "-c", pin] if pin else []
    cmd = prefix + [
        "spark-submit",
        "--master", f"local[{cores}]",
        "--driver-memory", driver_memory(),
        "--conf", "spark.sql.session.timeZone=UTC",
        "--conf", f"spark.sql.shuffle.partitions={max(cores * 2, 16)}",
        "--conf", "spark.sql.adaptive.enabled=true",
        "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
        "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=4000",
        "--conf", "spark.io.compression.codec=snappy",
        # split the (snappy-compact) scan so it parallelizes past a few tasks
        "--conf", "spark.sql.files.maxPartitionBytes=16m",
        # shuffle on tmpfs: the salted repartition must not be disk-bound
        "--conf", "spark.local.dir=/dev/shm/spark-local",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--py-files", pyfiles,
        os.path.join(REPO, "scripts", "extract_job.py"),
        "--input", corpus,
        "--output", out,
        "--skip-checkpoint",
        "--salt", "16",
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
    for line in reversed(proc.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    sys.stderr.write(proc.stdout[-4000:] + "\n" + proc.stderr[-4000:] + "\n")
    raise RuntimeError(f"no JSON from run at local[{cores}]")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=60000)
    # Python-UDF jobs need ~2 hardware threads per task slot in local
    # mode (JVM task thread + python worker), and this sandbox's 32
    # vCPUs are 16 physical cores with SMT (measured: pure-python burn
    # scales 0.87 from 4→16 procs, ~0.75 beyond).  The largest N-vs-4N
    # pair where BOTH configs run unconstrained is therefore local[2]
    # vs local[8] (total thread demand 4 and 16).  local[16]/local[32]
    # saturate the physical cores and measure the box, not the engine;
    # on a real cluster each executor core has its own python worker
    # co-scheduled by YARN/K8s, so the constraint is a local-mode
    # artifact.
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--xn", type=int, default=8)
    ap.add_argument("--workdir", default="/tmp/spark_graft_scaling")
    # paired samples: N and 4N run back-to-back per sample so both see
    # the same host-contention window; median of the per-pair
    # efficiencies is the headline (round-3 verdict item 3)
    ap.add_argument("--samples", type=int, default=6)
    # CPU pinning: local[n] needs ~2 cores per task slot (JVM thread +
    # python worker), so local[2] gets 4 cores and local[8] gets 16
    ap.add_argument("--pin-n", default="0-3")
    ap.add_argument("--pin-xn", default="0-15")
    ap.add_argument("--no-pin", action="store_true")
    args = ap.parse_args()

    os.makedirs(args.workdir, exist_ok=True)
    corpus = os.path.join(args.workdir, f"transcripts_{args.convs}.parquet")
    if not os.path.exists(corpus):
        from accelerated_intelligent_document_processing_on_aws_spark.fixtures import (
            write_transcripts_parquet,
        )

        n = write_transcripts_parquet(corpus, n_convs=args.convs, seed=42)
        print(f"corpus: {n} turns", file=sys.stderr)

    pyfiles = build_pyfiles_zip(os.path.join(args.workdir, "engine.zip"))

    pin_n = None if args.no_pin else args.pin_n
    pin_xn = None if args.no_pin else args.pin_xn
    factor = args.xn / args.n

    samples = []
    for s in range(args.samples):
        r_n = run_at(args.n, corpus, args.workdir, pyfiles, pin=pin_n)
        r_xn = run_at(args.xn, corpus, args.workdir, pyfiles, pin=pin_xn)
        eff = (r_xn["turns_per_sec"] / r_n["turns_per_sec"]) / factor
        samples.append({"n": r_n, "xn": r_xn, "eff": round(eff, 3)})
        print(
            f"sample {s + 1}/{args.samples}: local[{args.n}]="
            f"{r_n['turns_per_sec']:.0f} t/s local[{args.xn}]="
            f"{r_xn['turns_per_sec']:.0f} t/s eff={eff:.3f}",
            file=sys.stderr,
        )

    def median(vals):
        v = sorted(vals)
        m = len(v) // 2
        return v[m] if len(v) % 2 else (v[m - 1] + v[m]) / 2

    effs = [s["eff"] for s in samples]
    med_eff = round(median(effs), 3)
    med_n = round(median([s["n"]["turns_per_sec"] for s in samples]), 1)
    med_xn = round(median([s["xn"]["turns_per_sec"] for s in samples]), 1)
    r_n = max((s["n"] for s in samples), key=lambda r: r["turns_per_sec"])
    r_xn = max((s["xn"] for s in samples), key=lambda r: r["turns_per_sec"])

    result = {
        "turns": r_n["turns_in"],
        "pinned": not args.no_pin,
        "pin_n": pin_n,
        "pin_xn": pin_xn,
        "samples": effs,
        "median_efficiency": med_eff,
        f"median_turns_per_sec_local[{args.n}]": med_n,
        f"median_turns_per_sec_local[{args.xn}]": med_xn,
        "scaling_factor": factor,
        "scaling_efficiency": med_eff,
        "meets_0.8_target": med_eff >= 0.8,
    }
    print(json.dumps(result))

    pin_note = (
        f"Both levels are CPU-pinned with `taskset` (local[{args.n}] on "
        f"cores {pin_n}, local[{args.xn}] on cores {pin_xn}) so each "
        "configuration measures its own fixed core budget instead of "
        "floating across whatever the host scheduler grants"
        if not args.no_pin
        else "Runs are UNPINNED"
    )
    rows = "\n".join(
        f"| {i + 1} | {s['n']['turns_per_sec']} | {s['xn']['turns_per_sec']} "
        f"| {s['eff']:.3f} |"
        for i, s in enumerate(samples)
    )
    ge = sum(1 for e in effs if e >= 0.8)
    md = f"""# BENCH/BASELINE — measured throughput & scaling evidence

Per the driver instruction, the north rule's two-cluster-size criterion
(N vs 4N executors, scaling efficiency >= 0.8) is evidenced by running
the SAME `spark-submit --py-files` extraction job at two parallelism
levels on the SAME input in this single-node sandbox.

**Headline: median scaling efficiency {med_eff:.3f} over
{len(samples)} pinned paired samples (target ≥ 0.8:
{"MET" if med_eff >= 0.8 else "NOT MET"}).**

{pin_note}.  Parallelism levels are chosen so neither configuration
starves itself: a Python-UDF Spark job needs ~2 cores per task slot in
local mode (the JVM task thread plus its python worker), so the
N-vs-4N pair local[{args.n}] vs local[{args.xn}] gets {2 * args.n} and
{2 * args.xn} pinned cores.  On a real cluster each executor core has
its own python worker co-scheduled by YARN/K8s, so this constraint is
a local-mode artifact, not an engine property.

- Job: `scripts/extract_job.py` (kernel extraction over the seeded
  synthetic transcript corpus, {r_n['turns_in']} turns, Zipf-skewed
  conversation lengths, salt=16).
- Invocation: `[taskset -c <pin>] spark-submit --master local[{{N}}]
  --py-files engine.zip ...`
- Each sample runs N then 4N back-to-back, so both sides of a ratio
  see the same host-contention window.

| sample | local[{args.n}] turns/s | local[{args.xn}] turns/s | efficiency |
|---|---|---|---|
{rows}

Median local[{args.n}] {med_n} turns/s; median local[{args.xn}]
{med_xn} turns/s; **median efficiency {med_eff:.3f}**; {ge} of
{len(samples)} samples ≥ 0.8.

Per-turn text-equality pass rate: 100% (enforced by
`tests/test_pipeline_spark.py` byte-equality vs the pure-Python oracle;
`python -m pytest -x -q`).
"""
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(md)


if __name__ == "__main__":
    main()
