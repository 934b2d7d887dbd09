#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  Prints a detail record, then as the last
line one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer metrics.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "accelerated_intelligent_document_processing_on_aws_spark"
WORK = os.path.join(ROOT, ".perfbench_work")

HEAP = "2g"
# cold session starts per run; setup_s takes their median
SESSION_STARTS = 3


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env() -> None:
    """Keep every file Spark, the JVMs and the Python workers write inside
    the checkout, and make the engine importable by the workers.  Both
    JVMs spark-submit starts (its launcher and the driver) skip the
    perf-data file, which would go to /tmp."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_LAUNCHER_OPTS=java_opts,
        SPARK_SUBMIT_OPTS=(os.environ.get("SPARK_SUBMIT_OPTS", "") + " " + java_opts).strip(),
    )
    sys.path.insert(0, ROOT)


def start_spark(event_dir: str | None):
    from accelerated_intelligent_document_processing_on_aws_spark.sources.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {
        # a fixed-size heap (-Xms = -Xmx): a growable one resizes with GC
        # timing, and the tree's peak memory spread 36% between runs
        "spark.driver.memory": HEAP,
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # the driver JVM takes the tmpdir and perf-data options from
        # SPARK_SUBMIT_OPTS (prepare_env)
        "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=max(cores, 16), extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, so the next start is a cold one."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed_passes(wl, spark, spans, seconds: float, min_passes: int = 2) -> tuple[list[dict], int]:
    """Back-to-back passes until ``seconds`` have elapsed and at least
    ``min_passes`` ran.  Returns the pass records and the peak memory of
    the process tree."""
    from procmon import PeakMemory, tree_cpu_s

    pid, passes = os.getpid(), []
    with PeakMemory(pid) as mem:
        start = time.perf_counter()
        while len(passes) < min_passes or time.perf_counter() - start < seconds:
            cpu0, t0 = tree_cpu_s(pid), time.perf_counter()
            rec = wl.run_pass(spark, spans, f"pass{len(passes)}")
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s(pid) - cpu0
            passes.append(rec)
    return passes, mem.peak


def end_to_end(wl, passes: list[dict], peak_rss: int, setup_s: float, checks) -> dict:
    wall = statistics.median(p["wall_s"] for p in passes)
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "turns_per_s": (wl.rows / wall, "1/s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
        "peak_rss_mb": (peak_rss / 1e6, "MB"),
        "out_bytes_per_turn": (statistics.median(p["out_bytes"] for p in passes) / wl.rows, "B"),
        "ok_frac": (sum(ok for _, ok in checks) / len(checks), "fraction"),
    }


def set_up(wl, spans, starts: int = SESSION_STARTS):
    """Start the session ``starts`` times, each in a fresh JVM, keep the
    last, and warm it up.  Returns the session and the set-up record:
    ``setup_s`` is the median session start plus the warm-up."""
    start_s = []
    for i in range(starts):
        t0 = time.perf_counter()
        spark = start_spark(None)
        start_s.append(time.perf_counter() - t0)
        if i < starts - 1:
            stop_spark(spark)
    try:
        t0 = time.perf_counter()
        wl.warm_up(spark, spans)
        warm_s = time.perf_counter() - t0
    except BaseException:
        stop_spark(spark)
        raise
    return spark, {
        "setup_s": statistics.median(start_s) + warm_s,
        "session_start_s": start_s,
        "warm_up_s": warm_s,
    }


def plain_run(wl, args) -> tuple[dict, list, dict]:
    import procmon
    import tracing

    spans = tracing.Spans(f"{wl.name}-{args.seed}")
    spark, setup = set_up(wl, spans)
    try:
        host0 = procmon.cpu_times()
        passes, peak = timed_passes(wl, spark, spans, args.seconds)
        noise = procmon.host_noise(host0, procmon.cpu_times())
        checks = wl.checks(spark, passes)
    finally:
        stop_spark(spark)
    return end_to_end(wl, passes, peak, setup["setup_s"], checks), checks, {
        **setup,
        "host_noise": noise,
        "pass_wall_s": [p["wall_s"] for p in passes],
        "pass_cpu_s": [p["cpu_s"] for p in passes],
    }


def traced_run(wl, args) -> tuple[dict, list, dict]:
    """Untraced passes, then, in a new Spark session on the same JVM with
    the event log on, the same passes traced, then the layer probes.
    Each set of passes gets ``seconds / 2`` and at least two passes.  The
    traced passes run on a JVM that the untraced ones already warmed, so
    ``trace.overhead_s`` leans low."""
    import procmon
    import tracing

    run_id = f"{wl.name}-s{args.seed}"
    spark = start_spark(None)
    try:
        wl.warm_up(spark, tracing.Spans(run_id))
        host0 = procmon.cpu_times()
        plain, _ = timed_passes(wl, spark, tracing.Spans(run_id), args.seconds / 2)
        spark.stop()
        for p in plain:
            wl.drop(os.path.basename(p["out"]))
        event_dir = os.path.join(WORK, "eventlog", run_id)
        shutil.rmtree(event_dir, ignore_errors=True)
        spark = start_spark(event_dir)
        spans = tracing.Spans(run_id, spark)
        with spans.span("warm_up"):
            wl.warm_up(spark, spans)
        passes, _ = timed_passes(wl, spark, spans, args.seconds / 2)
        noise = procmon.host_noise(host0, procmon.cpu_times())
        checks = wl.checks(spark, passes)
        probes = wl.layer_probes(spark, spans, passes)
    finally:
        stop_spark(spark)
    probes.update(wl.kernel_probe())
    checks += probes.pop("_checks")
    groups = tracing.parse_event_log(tracing.event_log_files(event_dir))
    metrics = layer_metrics(wl, spans, groups, passes, plain, probes)
    table = {"spans": spans.table(), "event_log": groups}
    with open(os.path.join(WORK, "results", f"{run_id}-layers.json"), "w") as f:
        json.dump(table, f, indent=1)
    spans.write(os.path.join(WORK, "results", f"{run_id}-spans.jsonl"))
    return metrics, checks, {
        "host_noise": noise,
        "untraced_pass_wall_s": [p["wall_s"] for p in plain],
        "pass_wall_s": [p["wall_s"] for p in passes],
        "span_self_s": {k: v["self_s"] for k, v in table["spans"].items()},
    }


def layer_metrics(wl, spans, groups, passes, plain, probes) -> dict:
    import tracing
    from workloads import CHAIN_STAGES

    n = len(passes)
    main = tracing.total(groups, wl.main_spans)
    per_pass = lambda key: main[key] / n  # noqa: E731
    m = {
        "kernel.turns_per_s_1core": (probes["kernel.turns_per_s_1core"], "1/s"),
        "kernel.html_us_per_turn": (probes["kernel.html_us_per_turn"], "us"),
        "kernel.layout_us_per_turn": (probes["kernel.layout_us_per_turn"], "us"),
        "kernel.plain_us_per_turn": (probes["kernel.plain_us_per_turn"], "us"),
        "kernel.sighash_docs_per_s_1core": (probes["kernel.sighash_docs_per_s_1core"], "1/s"),
    }
    # workers start once per session and are then reused, so worker
    # start time reads over the whole traced session, warm-up included
    m["extract.py_start_s"] = (tracing.total(groups, groups)["py_start_s"], "s")
    for key, unit in (("py_init_s", "s"), ("py_run_s", "s"), ("arrow_sent_mb", "MB"), ("arrow_recv_mb", "MB")):
        m[f"extract.{key}"] = (per_pass(key), unit)
    m["extract.boundary_s"] = (per_pass("py_run_s") - wl.rows / probes["kernel.turns_per_s_1core"], "s")
    m["extract.task_skew"] = (tracing.skew(main["py_task_run_s"]), "ratio")
    m["extract.tasks"] = (per_pass("py_tasks"), "count")
    m["extract.cpu_s"] = (per_pass("py_cpu_s"), "s")
    # GC over all the pass's tasks: the Python tasks alone often read 0
    m["extract.gc_s"] = (per_pass("gc_s"), "s")
    # fetch wait stays in the layers file only: in local mode it reads 0
    for key, unit in (("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB")):
        m[f"exchange.{key}"] = (per_pass(key), unit)
    m["sources.scan_s"] = (spans.durations("sources.scan")[0], "s")
    m["sources.scan_tasks"] = (groups["sources.scan"]["input_tasks"], "count")
    for name in ("crash_run", "resume"):
        m[f"sources.checkpoint.{name}_s"] = (statistics.median(spans.durations(f"sources.checkpoint.{name}")), "s")
    m["sources.checkpoint.buckets_resumed"] = (probes["buckets_resumed"], "count")
    m["sources.checkpoint.write_mb"] = (probes["checkpoint_write_mb"], "MB")
    stages = [f"probe/dedup.{s}" for s in CHAIN_STAGES]
    for stage, path in zip(CHAIN_STAGES, stages):
        m[f"dedup.{stage}_s"] = (spans.durations(path)[0], "s")
    chain = probes["dedup"]
    for key in ("pairs", "clusters", "kept"):
        m[f"dedup.{key}"] = (chain[key], "count")
    m["dedup.clusters_jobs"] = (groups[stages[1]]["jobs"], "count")
    dd = tracing.total(groups, stages)
    m["dedup.cpu_s"] = (dd["cpu_s"], "s")
    m["dedup.gc_s"] = (dd["gc_s"], "s")
    m["trace.overhead_s"] = (
        statistics.median(p["wall_s"] for p in passes) - statistics.median(p["wall_s"] for p in plain), "s"
    )
    return m


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    # turn SIGTERM into SystemExit so the ``finally`` blocks stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: no {ENGINE}/ next to perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    prepare_env()
    import inputs
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cls = workloads.WORKLOADS[args.workload]
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    cache = os.path.join(WORK, "inputs")
    sizes = [cls.turns] + ([workloads.CHAIN_TURNS] if args.trace else [])
    # a child process, so generation leaves nothing in this one
    subprocess.run(
        [sys.executable, os.path.join(HERE, "inputs.py"), cache, cls.corpus, str(args.seed), *map(str, sizes)],
        check=True,
    )
    inp = inputs.corpus(cache, cls.corpus, args.seed, cls.turns)
    chain_inp = inputs.corpus(cache, cls.corpus, args.seed, workloads.CHAIN_TURNS) if args.trace else None
    wl = cls(inp, args.seed, os.path.join(WORK, "out", cls.name), chain_inp)
    if args.trace:
        metrics, checks, detail = traced_run(wl, args)
    else:
        metrics, checks, detail = plain_run(wl, args)
    failed = [name for name, ok in checks if not ok]
    detail.update(
        workload=wl.name, seed=args.seed, trace=args.trace,
        input={k: inp[k] for k in ("rows", "sha256", "generator")},
        failed_checks=failed,
    )
    with open(os.path.join(WORK, "results", f"{wl.name}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    shutil.rmtree(wl.work, ignore_errors=True)
    print("detail " + json.dumps(detail))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(checks),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
