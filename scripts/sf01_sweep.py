#!/usr/bin/env python
"""Full-registry oracle sweep at sf0.1 (round-4 verdict stretch item 8).

The per-commit driver-replica gate checks all oracle pairs at sf0.001
and sf0.01; this nightly-style script runs every oracle-paired registry
query at sf0.1 and reports any SF-dependent divergence (float
accumulation order, percentile interpolation, overflow) before the
driver can find one.

Usage: python scripts/sf01_sweep.py [sf_dir] [only]
  sf_dir  default /root/testdata/sf0.1; any directory with the same
          table set works (e.g. the /tmp/sf1 fixture from make_sf1.py)
  only    optional comma-separated query names — round-5 verdict item
          6 sweeps the ~20 heaviest oracle pairs at sf1 rather than
          all 130
Prints one PASS/FAIL line per oracle-paired query (with spark/oracle
wall seconds), then one ``ROWS <name> <count> <seconds>`` line per
registry entry without an oracle twin (the rows-only entries: run, not
compared), plus a summary JSON line.  ``SWEEP_ORACLE_TIMEOUT``
(seconds, default 600) arms a watchdog that ``con.interrupt()``s a
runaway DuckDB oracle — at sf1 the key-shifted replication turns every
document into a 10-clique of exact near-dups, and a recursive-closure
oracle that is seconds at sf0.1 can go super-linear; a timed-out oracle
is reported as ORACLE_TIMEOUT (an oracle-cost fact, not a
Spark-correctness fail).
"""

from __future__ import annotations

import json
import math
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(df):
    cols = sorted(df.columns)
    rows = []
    for tup in df[cols].itertuples(index=False):
        row = []
        for v in tup:
            if isinstance(v, float):
                if math.isnan(v):
                    row.append("nan")
                else:
                    if v == 0.0:
                        v = 0.0
                    row.append(f"{v:.9g}")
            else:
                row.append(str(v))
        rows.append(tuple(row))
    rows.sort()
    return cols, rows


def main() -> None:
    from accelerated_intelligent_document_processing_on_aws_spark.sources.session import (
        get_spark,
    )

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(
        app_name="sf01-sweep",
        extra_conf={"spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024)},
    )
    spark.sparkContext.setLogLevel("ERROR")
    def _fresh_con():
        c = duckdb.connect()
        for t in TABLES:
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return c

    con = _fresh_con()
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    names = set(queries)
    if len(sys.argv) > 2:
        names = {n.strip() for n in sys.argv[2].split(",") if n.strip()}
        unknown = names - set(queries)
        if unknown:
            raise SystemExit(f"unknown queries: {sorted(unknown)}")
    oracles = {n: sql for n, sql in oracles.items() if n in names}
    rows_only = sorted(names - set(oracles))
    oracle_timeout = float(os.environ.get("SWEEP_ORACLE_TIMEOUT", "600"))
    failed, timed_out, passed = [], [], 0
    t_start = time.time()
    for name in sorted(oracles):
        t_spark = t_oracle = 0.0
        try:
            t0 = time.time()
            got = queries[name](spark, sf_dir).toPandas()
            t_spark = time.time() - t0
            # the timer callback re-checks `done` under a lock before
            # interrupting: a timer that fires between fetchdf()
            # returning and cancel() would otherwise poison the shared
            # connection and abort the NEXT query under this one's name
            done_lock = threading.Lock()
            state = {"done": False, "fired": False}

            def _interrupt():
                with done_lock:
                    if state["done"]:
                        return
                    state["fired"] = True
                con.interrupt()

            hit = threading.Timer(oracle_timeout, _interrupt)
            hit.start()
            t0 = time.time()
            try:
                want = con.execute(oracles[name]).fetchdf()
            finally:
                with done_lock:
                    state["done"] = True
                hit.cancel()
                t_oracle = time.time() - t0
                if state["fired"]:
                    # timer won the race against cancel(): a (possibly
                    # pending) interrupt targets this connection — drop
                    # it so the next query can't be poisoned
                    hit.join()
                    con.close()
                    con = _fresh_con()
            gc, gr = _canon(got)
            wc, wr = _canon(want)
            if gc != wc:
                failed.append((name, f"columns {gc} vs {wc}"))
            elif len(gr) != len(wr):
                failed.append((name, f"rows {len(gr)} vs {len(wr)}"))
            else:
                mism = sum(1 for a, b in zip(gr, wr) if a != b)
                if mism:
                    first = next((a, b) for a, b in zip(gr, wr) if a != b)
                    failed.append((name, f"{mism} row mismatches; first {first}"))
                else:
                    passed += 1
        except Exception as e:  # noqa: BLE001
            if "INTERRUPT" in (str(e) + type(e).__name__).upper():
                timed_out.append(name)
                print(
                    f"ORACLE_TIMEOUT {name}: spark ok in {t_spark:.1f}s, "
                    f"duckdb oracle cut at {oracle_timeout:.0f}s",
                    flush=True,
                )
            else:
                failed.append((name, f"ERROR {type(e).__name__}: {e}"))
        if failed and failed[-1][0] == name:
            print(f"FAIL {name}: {failed[-1][1][:300]}", flush=True)
        elif not (timed_out and timed_out[-1] == name):
            print(
                f"PASS {name} (spark {t_spark:.1f}s, oracle {t_oracle:.1f}s)",
                flush=True,
            )
    for name in rows_only:  # no oracle twin: run it, report its row count
        try:
            t0 = time.time()
            n = queries[name](spark, sf_dir).count()
            print(f"ROWS {name} {n} {time.time() - t0:.1f}", flush=True)
        except Exception as e:  # noqa: BLE001
            failed.append((name, f"ERROR {type(e).__name__}: {e}"))
            print(f"FAIL {name}: {failed[-1][1][:300]}", flush=True)
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "oracle_paired": len(oracles),
                "rows_only": len(rows_only),
                "passed": passed,
                "failed": [n for n, _ in failed],
                "oracle_timeout": timed_out,
                "wall_sec": round(time.time() - t_start, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
