#!/usr/bin/env python
"""Interleaved A/B adjudication of the five round-4 bench regressions.

Round-4 verdict: `single_class_sections_events`, `join_avg_by_segment`,
`ann_bruteforce_topk`, `ann_lsh_topk`, `image_decode_stats` measured
~2x slower in BENCH_r04 than BENCH_r03 on git-verified unchanged plans.
The two candidate causes named by the verdict are (a) this VM's
documented 2-4x hypervisor steal-noise (each bench timing is a single
driver pass) and (b) the round-4 `spark.io.compression.codec=snappy`
pin interacting badly with these queries' small shuffles.

Protocol (the repo's own benchmark protocol — see the
`vm-steal-noise-protocol` note in NOTES/BENCH): run the SAME queries
under the r3 config (lz4) and the r4 config (snappy) in ALTERNATING
fresh subprocesses so both sides sample the same host-contention
windows, >= 5 paired rounds, and compare per-query MEDIANS — never
single samples.  Each subprocess replicates bench.py's measurement
policy exactly (get_spark + maxPartitionBytes=16m + /dev/shm local dir,
sf0.001 warmup pass, then timed passes at sf0.1).

Usage:
  python scripts/perf_adjudicate.py            # orchestrate 6 paired rounds
  python scripts/perf_adjudicate.py --worker lz4   # one measurement child
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM_DIR = "/root/testdata/sf0.001"
ROUNDS = int(os.environ.get("ADJUDICATE_ROUNDS", "6"))
PASSES = 2  # timed passes per query per subprocess visit

QUERIES_UNDER_TEST = os.environ.get(
    "ADJUDICATE_QUERIES",
    "single_class_sections_events,join_avg_by_segment,ann_bruteforce_topk,"
    "ann_lsh_topk,image_decode_stats",
).split(",")

R3_TIMES = {  # BENCH_r03.json parsed.queries — the comparison anchor
    "single_class_sections_events": 0.219,
    "join_avg_by_segment": 0.431,
    "ann_bruteforce_topk": 0.865,
    "ann_lsh_topk": 1.045,
    "image_decode_stats": 0.647,
}


def worker(codec: str) -> None:
    # code-version A/B: ADJUDICATE_REPO points the import at a worktree
    # of an older commit (e.g. the round-3 tree); codec "default" keeps
    # that tree's own get_spark codec choice
    repo = os.environ.get("ADJUDICATE_REPO", REPO)
    if repo != REPO:
        sys.path.insert(0, repo)
        for m in [k for k in list(sys.modules) if "accelerated_intelligent" in k]:
            del sys.modules[m]
    from accelerated_intelligent_document_processing_on_aws_spark.plans import QUERIES
    from accelerated_intelligent_document_processing_on_aws_spark.sources.session import (
        get_spark,
    )

    extra = {
        "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
    }
    if codec != "default":
        extra["spark.io.compression.codec"] = codec
    if os.path.isdir("/dev/shm"):
        extra["spark.local.dir"] = "/dev/shm/spark-local"
    spark = get_spark(app_name=f"adjudicate-{codec}", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    for name in QUERIES_UNDER_TEST:  # python-worker/codegen warmup
        QUERIES[name](spark, WARM_DIR).count()
    samples: dict[str, list[float]] = {n: [] for n in QUERIES_UNDER_TEST}
    for _ in range(PASSES):
        for name in QUERIES_UNDER_TEST:
            t0 = time.perf_counter()
            QUERIES[name](spark, SF_DIR).count()
            samples[name].append(round(time.perf_counter() - t0, 4))
    print("SAMPLES " + json.dumps({"codec": codec, "samples": samples}))
    spark.stop()


def orchestrate() -> None:
    """Interleave two ARMS.  Default: codec A/B on the current tree.
    With ADJUDICATE_REPO_B=<worktree>: code-version A/B — current tree
    (arm "lz4"→label kept for plumbing) vs the other tree, each with its
    own get_spark defaults (codec "default")."""
    repo_b = os.environ.get("ADJUDICATE_REPO_B")
    arms = (
        {"lz4": (REPO, "default"), "snappy": (repo_b, "default")}
        if repo_b
        else {"lz4": (REPO, "lz4"), "snappy": (REPO, "snappy")}
    )
    if repo_b:
        print(f"arm lz4 = {REPO} (current), arm snappy = {repo_b}")
    pooled: dict[str, dict[str, list[float]]] = {
        c: {n: [] for n in QUERIES_UNDER_TEST} for c in ("lz4", "snappy")
    }
    for rnd in range(ROUNDS):
        for codec in ("lz4", "snappy"):  # back-to-back pair per round
            arm_repo, arm_codec = arms[codec]
            env = dict(os.environ, ADJUDICATE_REPO=arm_repo)
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--worker", arm_codec],
                capture_output=True,
                text=True,
                cwd=arm_repo,
                env=env,
                timeout=1200,
            )
            line = [l for l in out.stdout.splitlines() if l.startswith("SAMPLES ")]
            if not line:
                print(f"round {rnd} {codec}: worker failed\n{out.stderr[-2000:]}")
                continue
            got = json.loads(line[-1][len("SAMPLES "):])
            for n, xs in got["samples"].items():
                pooled[codec][n].extend(xs)
            print(f"round {rnd} {codec}: " + json.dumps(got["samples"]))
    report = {}
    for n in QUERIES_UNDER_TEST:
        med = {c: round(statistics.median(pooled[c][n]), 3) for c in pooled}
        report[n] = {
            **med,
            "r3_single_sample": R3_TIMES.get(n),
            "snappy_over_lz4": round(med["snappy"] / med["lz4"], 3)
            if med["lz4"]
            else None,
            "median_over_r3": round(min(med.values()) / R3_TIMES[n], 2)
            if n in R3_TIMES
            else None,
        }
    print(json.dumps({"rounds": ROUNDS, "passes": PASSES, "report": report}, indent=2))


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--worker":
        worker(sys.argv[2])
    else:
        orchestrate()
