"""Seeded benchmark inputs, cached on disk by (corpus, seed, size,
generator version).

    python3 perfbench/inputs.py <cache_dir> <corpus> <seed> <turns> [<turns> ...]

Every workload reads one transcripts parquet file built from the
engine's own fixture generator (``fixtures.transcripts.generate_transcripts``,
the generator behind ``write_transcripts_parquet``).  The generator
draws Zipf conversation lengths, so the turn count of a fixed
conversation count swings by about 10% between seeds; that would show
up as run-to-run spread in ``wall_s``.  The corpus is therefore cut to
an exact turn count: whole conversations in generation order, and a
prefix of the last one (turn indexes stay contiguous).

The generator runs at about 70 us per turn on one core, so a corpus is
made of ``CHUNKS`` parts generated side by side, each from its own
seed derived from the run's seed; the conversation ids carry the part
number and the rows are shuffled once more over the whole corpus.  The
part count is fixed, so a seed gives the same file on any machine.

The benchmark generates a missing input in a child process (this
module's command line) before its own measured process does anything,
so generation is never part of ``setup_s`` or a timed pass and leaves
no garbage in the measured process.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys
from datetime import timedelta

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GENERATOR = os.path.join(
    ROOT, "accelerated_intelligent_document_processing_on_aws_spark", "fixtures", "transcripts.py"
)
CHUNKS = 4
# distinct texts the hot conversation cycles through: a fixed number, so
# how much its turns share does not change with the seed.  The parquet
# writer's dictionary encoding of the output depends on it: reusing all
# of the other half's ~6,000 plain texts, output bytes per turn came out
# 10% lower on three seeds in ten than on the rest.
HOT_TEXTS = 1_000


def generator_version() -> str:
    """Hash of the fixture generator and of this file: a cached input made
    by other generator code is never reused."""
    h = hashlib.sha256()
    for path in (GENERATOR, os.path.abspath(__file__)):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _write(rows: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    table = pa.Table.from_pydict({k: [r[k] for r in rows] for k in schema.names}, schema=schema)
    tmp = path + ".tmp"
    # same codec and row-group size as fixtures.write_transcripts_parquet
    pq.write_table(table, tmp, compression="snappy", row_group_size=8192)
    os.replace(tmp, path)


def exact_turns(rows: list[dict], n_turns: int) -> list[dict]:
    """Keep the first ``n_turns`` turns in conversation-generation order
    (conv ids are zero-padded, so string order is generation order),
    returned in the rows' original (shuffled) order."""
    lengths: dict[str, int] = {}
    for r in rows:
        lengths[r["conv_id"]] = lengths.get(r["conv_id"], 0) + 1
    keep: dict[str, int] = {}
    left = n_turns
    for conv in sorted(lengths):
        if left <= 0:
            break
        keep[conv] = min(lengths[conv], left)
        left -= keep[conv]
    if left > 0:
        raise ValueError(f"corpus has fewer than {n_turns} turns")
    return [r for r in rows if r["turn_idx"] < keep.get(r["conv_id"], 0)]


def _sha256(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _part(seed: int, part: int, n_turns: int) -> list[dict]:
    """One part of a corpus: exactly ``n_turns`` turns from the generator
    seeded with (seed, part), conversation ids prefixed by the part."""
    from accelerated_intelligent_document_processing_on_aws_spark.fixtures.transcripts import (
        generate_transcripts,
    )

    part_seed = seed * 1000 + part
    # mean Zipf length is ~42 turns; overshoot a little, then cut
    n_convs = max(8, n_turns // 36)
    rows = generate_transcripts(n_convs, seed=part_seed)
    while len(rows) < n_turns:
        n_convs *= 2
        rows = generate_transcripts(n_convs, seed=part_seed)
    rows = exact_turns(rows, n_turns)
    for r in rows:
        r["conv_id"] = r["conv_id"].replace("conv-", f"conv-{part}-", 1)
    return rows


def _part_args(args: tuple[int, int, int]) -> list[dict]:
    return _part(*args)


def transcripts_rows(seed: int, n_turns: int, pool=None) -> list[dict]:
    """A row-shuffled Zipf corpus of exactly ``n_turns`` turns, about half
    of them HTML."""
    sizes = [n_turns // CHUNKS + (k < n_turns % CHUNKS) for k in range(CHUNKS)]
    jobs = [(seed, k, n) for k, n in enumerate(sizes) if n]
    parts = pool.map(_part_args, jobs) if pool is not None else [_part_args(j) for j in jobs]
    rows = [r for part in parts for r in part]
    random.Random(seed).shuffle(rows)
    return rows


def hotconv_rows(seed: int, n_turns: int, pool=None) -> list[dict]:
    """A conv_id-sorted file whose one conversation ``conv-hot`` holds half
    the turns: short tool and user turns whose texts are the first
    ``HOT_TEXTS`` plain-text payloads of the other half, reused in order."""
    rows = transcripts_rows(seed, n_turns // 2, pool)
    plain = [r["text"] for r in rows if not r["text"].lstrip().startswith(("<", "["))][:HOT_TEXTS]
    ts0 = min(r["ts"] for r in rows)
    for i in range(n_turns - len(rows)):
        tool_turn = i % 2 == 1
        rows.append({
            "conv_id": "conv-hot",
            "turn_idx": i,
            "role": "tool" if tool_turn else "user",
            "text": plain[i % len(plain)],
            "tool": "search" if tool_turn else None,
            "ts": ts0 + timedelta(seconds=7 * i),
        })
    rows.sort(key=lambda r: (r["conv_id"], r["turn_idx"]))
    return rows


CORPORA = {"transcripts": transcripts_rows, "hotconv": hotconv_rows}


def _paths(cache_dir: str, kind: str, seed: int, n_turns: int) -> tuple[str, str]:
    stem = os.path.join(cache_dir, f"{kind}-s{seed}-n{n_turns}-g{generator_version()}")
    return stem + ".parquet", stem + ".json"


def generate(cache_dir: str, kind: str, seed: int, n_turns: int) -> None:
    """Write the seeded corpus to the cache unless it is there already."""
    import multiprocessing

    path, meta_path = _paths(cache_dir, kind, seed, n_turns)
    if os.path.exists(meta_path):
        return
    os.makedirs(cache_dir, exist_ok=True)
    with multiprocessing.Pool(min(CHUNKS, len(os.sched_getaffinity(0)))) as pool:
        rows = CORPORA[kind](seed, n_turns, pool)
    _write(rows, path)
    # written last: its presence marks a complete cache entry
    with open(meta_path, "w") as f:
        json.dump({"rows": len(rows), "sha256": _sha256(path)}, f)


def corpus(cache_dir: str, kind: str, seed: int, n_turns: int) -> dict:
    """Path and fingerprint of a cached corpus:
    ``{"path", "rows", "sha256", "generator"}``."""
    path, meta_path = _paths(cache_dir, kind, seed, n_turns)
    with open(meta_path) as f:
        meta = json.load(f)
    return {"path": path, "rows": meta["rows"], "sha256": meta["sha256"], "generator": generator_version()}


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    cache, kind, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    for turns in sys.argv[4:]:
        generate(cache, kind, seed, int(turns))
