"""Deduplication operators for large-scale corpus curation.

- exact dedup: hash-groupBy on content (or md5 digest) — pure Catalyst.
- MinHash + LSH: shingle → K minhash signature → band → bucket
  self-join → candidate pairs → exact Jaccard verify.
- SimHash: 64-bit sign-aggregated token-hash fingerprint + banded
  hamming candidate join (pigeonhole: ``max_hamming + 1`` chunks).
- n-gram Jaccard: set overlap of distinct token shingles per pair.
- embedding near-dup: cosine over candidate pairs (blocked or brute).

**Signature computation is fully vectorized**: the pandas UDFs below
delegate every per-document step — tokenize, token/shingle hashing,
distinct, K-minhash min, band fold, SimHash bit votes — to the
Arrow/numpy batch kernel in :mod:`..kernel.sighash` (zero per-document
Python; equivalence-gated against a per-document reference of the same
hash family by ``tests/test_sighash_equiv.py``).  They are the only
signature path: the same algebra as Catalyst ``aggregate``/``zip_with``
lambdas, with 32-64 ``xxhash64`` calls per element, runs interpreted
(higher-order-function lambdas are not whole-stage-codegen'd) at
~16 ms/doc.

The band/bucket joins shuffle only (band_idx, band_hash, doc_id) —
never the document text — so shuffle volume is O(docs × bands × 16B)
regardless of corpus byte size.  Jaccard verification re-reads the text
of CANDIDATE ids only (semi-join pushes the id filter to the scan).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vectors import cosine_sim


def tokens(col: Column | str, lowercase: bool = True) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c) if lowercase else c
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def shingles(tok: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (distinct)."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(tok) - n, F.lit(0)))
    grams = F.when(F.size(tok) < n, F.array(F.array_join(tok, " "))).otherwise(
        F.transform(idx, lambda i: F.array_join(F.slice(tok, i + 1, n), " "))
    )
    return F.array_distinct(grams)


# ---------------------------------------------------------------------------
# vectorized signature UDFs (Arrow/numpy batch kernel: kernel/sighash.py)
# ---------------------------------------------------------------------------

def minhash_band_hashes_udf(
    shingle_n: int = 3, num_hashes: int = 32, bands: int = 8, seed: int = 1
):
    """text → array<long> of ``bands`` LSH band hashes, Arrow-batched.

    All per-document work happens in the vectorized batch kernel
    (:func:`..kernel.sighash.minhash_bands_batch`): Arrow C++ tokenize,
    batched polyhash+fmix64 token hashes, Horner n-gram fold, segmented
    distinct, K-minhash universal remix min, FNV band fold.  Returns
    NULL for token-less text.  Semantics (lowercase, whitespace split,
    whole-doc shingle below ``shingle_n`` tokens) equivalence-gated per
    document by tests/test_sighash_equiv.py."""
    from ..kernel import sighash
    from pyspark.sql.functions import pandas_udf

    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    A, B = sighash.remix_params(num_hashes, seed)

    @pandas_udf(T.ArrayType(T.LongType()))
    def _bands(texts: pd.Series) -> pd.Series:
        arr = pa.Array.from_pandas(texts, type=pa.string())
        out_b, _ = sighash.minhash_bands_batch(arr, shingle_n, A, B, bands)
        return pd.Series(out_b, dtype="object")

    return _bands


def minhash_bands_shingles_udf(
    shingle_n: int = 3, num_hashes: int = 32, bands: int = 8, seed: int = 1
):
    """text → struct<bands: array<long>, sh: array<long>> — the band
    hashes of :func:`minhash_band_hashes_udf` PLUS the sorted distinct
    64-bit shingle hashes from the same batch pass (the gram-hash
    vector is the signature's input; emitting it costs nothing).

    Jaccard over the hash sets equals Jaccard over the string shingle
    sets FOR NON-ADVERSARIAL INPUT: a shingle string is determined by
    its token tuple, and random fmix64(polyhash) collisions are
    ~n²·2⁻⁶⁴ — negligible at any realistic per-doc shingle count.  The
    family is NOT collision-resistant against a crafting adversary:
    fmix64 is invertible and base-P polyhash mod 2⁶⁴ admits
    constructible collisions for any fixed odd base (Thue-Morse-style
    anti-hash inputs), so on untrusted web corpora crafted documents
    could inflate hash-set Jaccard past the verify threshold.  For
    adversarial settings use ``minhash_lsh_pairs(carry_shingles=False)``
    — its verify recomputes STRING shingle sets (exact set Jaccard, no
    hash involved) — or swap this kernel for a keyed cryptographic hash.
    Returns NULL for token-less text."""
    from ..kernel import sighash
    from pyspark.sql.functions import pandas_udf

    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    A, B = sighash.remix_params(num_hashes, seed)
    out_type = T.StructType(
        [
            T.StructField("bands", T.ArrayType(T.LongType())),
            T.StructField("sh", T.ArrayType(T.LongType())),
        ]
    )

    @pandas_udf(out_type)
    def _bands_sh(texts: pd.Series) -> pd.DataFrame:
        arr = pa.Array.from_pandas(texts, type=pa.string())
        out_b, out_s = sighash.minhash_bands_batch(
            arr, shingle_n, A, B, bands, want_shingles=True
        )
        return pd.DataFrame({"bands": out_b, "sh": out_s})

    return _bands_sh


def simhash64_udf():
    """text → 64-bit SimHash fingerprint (long), Arrow-batched.

    Term-frequency-weighted bit votes over distinct token hashes, fully
    vectorized in :func:`..kernel.sighash.simhash_batch` (segmented
    lexsort distinct + 64 weighted-bincount vote passes).  NULL for
    token-less text."""
    from ..kernel import sighash
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.LongType())
    def _fp(texts: pd.Series) -> pd.Series:
        arr = pa.Array.from_pandas(texts, type=pa.string())
        return pd.Series(sighash.simhash_batch(arr), dtype="object")

    return _fp


def _pair_combinations(ids: Column) -> Column:
    """All i<j element pairs of a SORTED array as
    array<struct<id_a, id_b>> — the in-bucket candidate generator shared
    by the LSH paths (one groupBy shuffle instead of a self-join)."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),  # slice clamps at array end
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-content duplicate groups: (content_hash, n_docs, keep_id).

    ``keep_id`` = min id is the canonical representative; groups with
    ``n_docs > 1`` are duplicates.  Shuffles (hash, id) only."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative (min id) per distinct content."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_paragraphs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 1,
) -> DataFrame:
    """Cross-document paragraph (line) dedup — the C4 pipeline step that
    removes globally repeated boilerplate lines, keeping only the FIRST
    corpus-wide occurrence of each normalized line (first = smallest
    ``(doc_id, line_idx)``, so the result is deterministic under any
    partitioning).

    Plan: posexplode lines (trim + lowercase normalize for the dup key,
    original text kept) → one ``row_number`` window partitioned by the
    line's md5 — the only shuffle proportional to corpus size — →
    winners regrouped per doc in line order.  Returns
    ``(doc_id, kept_text, n_lines, n_kept)``.  At 10^12 turns the key
    shuffle moves (hash, doc_id, idx, line) only for NON-EMPTY lines.

    Skew note: window partitions are NOT AQE-splittable (AQE skew
    mitigation applies to shuffle joins / partition coalescing; a
    ``row_number`` partition must land whole in one task).  What makes
    this plan safe for a line repeated 10^9× is Spark's
    ``WindowGroupLimit`` pushdown: because the query filters
    ``_rn == 1``, each MAP task pre-filters its partition to one row per
    key before the exchange, so at most ``num_map_tasks`` rows per key
    cross the wire.  That safety is shape-dependent — change the filter
    to ``_rn <= k``, add a tie mode (``rank``), or restructure the
    orderBy and the pushdown vanishes; ``tests/test_plan_hygiene.py``
    pins ``WindowGroupLimit`` in this plan so a refactor that loses it
    goes red.  The shape-independent alternative is
    ``groupBy(md5).agg(min(struct(_id, _idx)))`` + join back, which is
    map-side combinable by construction (same pattern the
    ``duplicate_ngram_spans`` docstring names as its skew fallback).
    """
    from pyspark.sql import Window

    lines = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_idx", "_line"),
    ).where(F.length(F.trim(F.col("_line"))) >= min_chars)
    w = Window.partitionBy(F.md5(F.lower(F.trim(F.col("_line"))))).orderBy(
        "_id", "_idx"
    )
    kept = lines.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    per_doc = (
        kept.groupBy("_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("_idx"), F.col("_line")))
                    ),
                    lambda s: s["_line"],
                ),
            ).alias("kept_text"),
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        )
    )
    totals = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("_idx", "_line"),
        )
        .where(F.length(F.trim(F.col("_line"))) >= min_chars)
        .groupBy("_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"))
    )
    return (
        totals.join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


def dedup_paragraphs_groupby(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 1,
) -> DataFrame:
    """The shape-independent twin of :func:`dedup_paragraphs` — same
    result, different physical strategy for adversarially skewed line
    keys.

    Plan: ``groupBy(line_md5).agg(min(struct(doc_id, idx)))`` finds each
    line's global first occurrence with a MAP-SIDE-COMBINABLE partial
    aggregate (a line repeated 10^9× collapses to one row per map task
    before the exchange, by aggregation algebra — not by a
    filter-shape-dependent pushdown), then an inner join back on
    ``(key, doc_id, idx)`` picks the winner rows.  Costs one extra
    exchange versus the window form (the join-back re-shuffles the
    lines by key) but the join is AQE-skew-splittable, so it is the
    right choice when the key histogram is unknown or hostile; the
    window form (one exchange, ``WindowGroupLimit``-guarded) wins on
    benign corpora.  Both are registry queries against the same SQL
    oracle, so their equivalence is driver-checked."""
    lines = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_idx", "_line"),
    ).where(F.length(F.trim(F.col("_line"))) >= min_chars)
    keyed = lines.withColumn("_k", F.md5(F.lower(F.trim(F.col("_line")))))
    winners = keyed.groupBy("_k").agg(
        F.min(F.struct(F.col("_id"), F.col("_idx"))).alias("_w")
    )
    kept = keyed.join(winners, "_k").where(
        (F.col("_id") == F.col("_w._id")) & (F.col("_idx") == F.col("_w._idx"))
    )
    per_doc = (
        kept.groupBy("_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("_idx"), F.col("_line")))
                    ),
                    lambda s: s["_line"],
                ),
            ).alias("kept_text"),
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        )
    )
    totals = lines.groupBy("_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )
    return (
        totals.join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = 64,
    carry_shingles: bool = True,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH with exact-Jaccard verify.

    Returns (id_a, id_b, jaccard) with id_a < id_b and
    jaccard ≥ threshold.

    ``max_bucket_size`` drops band buckets above the cap before pair
    generation — a bucket that big means the band is non-discriminative
    for this corpus (the "stop-shingle" effect), and its O(bucket²) pair
    blowup would dominate the job at scale; near-dup pairs in a dropped
    bucket still collide in the other, more selective bands.

    **Two verify strategies** (round-2 perf work — the re-scan verify
    was 43% of the bench wall for pure stage overhead):

    - ``carry_shingles=True`` (default): the hashed shingle set rides
      with the id into the bucket groupBy, so the exact Jaccard is an
      INLINE expression on the emitted pairs — ONE corpus scan, ONE
      shuffle, zero joins.  Shuffle cost grows by
      ``bands × |shingle set| × 8B`` per doc (a few KB for typical
      docs); the text column is never shuffled or re-read.
    - ``carry_shingles=False``: ship only (band_idx, band_hash, id),
      then semi-join candidates back to the corpus and verify on
      recomputed STRING shingle sets.  Minimum shuffle volume, but a
      second full scan of the text column + two joins — prefer it when
      per-doc shingle sets are huge (very long documents) relative to
      the candidate count, or when the corpus is UNTRUSTED: the string
      verify is exact set Jaccard with no hash in the loop, so crafted
      polyhash collisions (see :func:`minhash_bands_shingles_udf`'s
      threat-model note) cannot push a non-duplicate past the
      threshold."""
    if carry_shingles:
        return _minhash_pairs_carry(
            docs, id_col, text_col, shingle_n, num_hashes, bands,
            jaccard_threshold, max_bucket_size,
        )
    from ..sources.tables import spread_scan

    band_udf = minhash_band_hashes_udf(shingle_n, num_hashes, bands)
    base = spread_scan(docs).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("txt")
    )
    banded = base.select(
        "id", F.posexplode(band_udf("txt")).alias("band_idx", "band_hash")
    )
    # ONE shuffle generates the candidate pairs: group ids per bucket and
    # emit the i<j combinations in-place.  A self-join would evaluate the
    # signature plan twice and add two more exchanges.  The bucket cap is
    # enforced BEFORE collect_list by a window count over the SAME
    # partitioning (no extra exchange): a degenerate bucket — e.g. 10^7
    # byte-identical documents, routine in dedup workloads — must never
    # materialize as one aggregation-buffer array.
    cap = max_bucket_size if max_bucket_size is not None else 2_147_483_647
    from pyspark.sql import Window

    bucket_w = Window.partitionBy("band_idx", "band_hash")
    buckets = (
        banded.withColumn("_bs", F.count(F.lit(1)).over(bucket_w))
        .where((F.col("_bs") >= 2) & (F.col("_bs") <= cap))
        .groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
    )
    cand = (
        buckets.select(F.explode(_pair_combinations(F.col("ids"))).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        # duplicate input ids would produce (x, x) self-pairs — guard
        # costs one codegen predicate (run exact dedup first regardless)
        .where(F.col("id_a") != F.col("id_b"))
        .distinct()
        # the pair set is referenced three times below (verify join +
        # twice through cand_ids); it is tiny (collision candidates
        # only), so truncate lineage here and bound the signature
        # pipeline to one evaluation.  The call runs the bucket and
        # distinct exchanges (the signature kernel with them); the
        # blocks stay in executor storage until the session ends.
        .localCheckpoint(eager=False)
    )
    # exact-Jaccard verify over CANDIDATE ids only.  Both the broadcast
    # and the checkpoint below are load-bearing at scale (r7 drill,
    # 2.6M turns): without them the LeftSemi sort-merge-joins and
    # re-evaluates the shingle subtree per verify side — the full text
    # column crossed the wire TWICE (2×2.8 GB of the leg's 7 GB
    # shuffle) and the leg measured 1004-1117 s.  Broadcasting the
    # (small, candidates-only) id set turns the semi-join into a
    # broadcast hash join — the corpus text never shuffles — and the
    # localCheckpoint evaluates the candidate shingle sets ONCE (their
    # storage is O(candidates × shingle bytes), bounded by the LSH
    # collision count, not the corpus).  The call runs the cand_ids
    # exchanges; the blocks stay in executor storage until the session
    # ends.
    cand_ids = (
        cand.select(F.explode(F.array("id_a", "id_b")).alias("id")).distinct()
    )
    sh = (
        base.join(F.broadcast(cand_ids), "id", "left_semi")
        .select("id", shingles(tokens("txt"), shingle_n).alias("sh"))
        .localCheckpoint(eager=False)
    )
    verified = (
        cand.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def _minhash_pairs_carry(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int,
    bands: int,
    jaccard_threshold: float,
    max_bucket_size: int | None,
) -> DataFrame:
    """Carry-shingles MinHash LSH: one scan, one shuffle, inline verify.

    The hashed shingle set (sorted int64) rides into the bucket groupBy
    next to the doc id — exactly the pattern :func:`simhash_pairs` uses
    for its 8-byte fingerprint, generalized to the set.  Pair
    generation AND exact-Jaccard verification happen in place on the
    aggregated bucket; ``|union| = |a| + |b| - |intersect|`` saves the
    second array traversal.  The threshold filter runs BEFORE the
    distinct so the final exchange only carries true near-dup pairs."""
    from pyspark.sql import Window

    from ..sources.tables import spread_scan

    udf = minhash_bands_shingles_udf(shingle_n, num_hashes, bands)
    # spread_scan: the signature kernel inherits scan parallelism (see
    # simhash_pairs) — no-op for genuinely multi-partition input
    base = spread_scan(docs).select(
        F.col(id_col).alias("id"), udf(F.col(text_col)).alias("s")
    )
    # no isNotNull filter here: a filter on the UDF column makes Catalyst
    # evaluate the UDF TWICE (once for the predicate, once for the
    # projection — two ArrowEvalPython nodes in the plan); posexplode of
    # a NULL bands array already emits no rows, which is the same skip
    banded = base.select(
        "id",
        F.col("s.sh").alias("sh"),
        F.posexplode("s.bands").alias("band_idx", "band_hash"),
    )
    cap = max_bucket_size if max_bucket_size is not None else 2_147_483_647
    bucket_w = Window.partitionBy("band_idx", "band_hash")
    buckets = (
        banded.withColumn("_bs", F.count(F.lit(1)).over(bucket_w))
        .where((F.col("_bs") >= 2) & (F.col("_bs") <= cap))
        .groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_list(F.struct("id", "sh"))).alias("members"))
    )
    inter = F.size(F.array_intersect(F.col("p.id_a.sh"), F.col("p.id_b.sh")))
    union = (
        F.size(F.col("p.id_a.sh")) + F.size(F.col("p.id_b.sh")) - inter
    )
    return (
        buckets.select(F.explode(_pair_combinations(F.col("members"))).alias("p"))
        .select(
            F.col("p.id_a.id").alias("id_a"),
            F.col("p.id_b.id").alias("id_b"),
            F.round(inter / union, 6).alias("jaccard"),
        )
        .where((F.col("jaccard") >= jaccard_threshold) & (F.col("id_a") != F.col("id_b")))
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash banding: two fingerprints within hamming
    ``k`` of each other agree exactly on at least one of ``k + 1``
    disjoint bit chunks (pigeonhole), so join on chunk equality then
    verify the true hamming distance.

    The chunk count is DERIVED as ``max_hamming + 1`` so the pigeonhole
    recall guarantee always holds (round 1 hardcoded 4 chunks, which
    silently missed hamming-4..16 pairs when called with
    ``max_hamming=16``).  Small thresholds keep chunks wide and buckets
    selective — at 64 bits, ``max_hamming`` ≤ 7 keeps chunks ≥ 8 bits;
    beyond that the banding degrades toward all-pairs (nothing warns;
    the caller picks the threshold).

    Every bucket, whatever its size, goes through ONE 2-D salted
    self-join on (chunk_idx, chunk): members are split into groups of
    about 256 and each unordered pair meets at exactly one group pair,
    so a task does at most 256² hamming evaluations per key however
    degenerate the bucket.  The O(n²) candidate volume of a truly
    degenerate bucket is inherent to the semantics (those pairs exist);
    run exact dedup first if byte-identical floods are expected.

    The fingerprint/bucket frame is referenced by both join sides and is
    ``localCheckpoint(eager=False)``-ed.  That is not lazy under AQE:
    the call runs the bucket window's exchange, and the fingerprint UDF
    with it, while the plan is being built.  Its blocks stay in executor
    storage until the session ends (nothing unpersists them)."""
    if max_hamming < 0:
        raise ValueError("max_hamming must be >= 0")
    n_chunks = max_hamming + 1
    if n_chunks > 64:
        raise ValueError("max_hamming must be < 64 for a 64-bit fingerprint")
    widths = [64 // n_chunks + (1 if i < 64 % n_chunks else 0) for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]

    def _chunk_expr(i):
        # width==64 only at n_chunks==1 (max_hamming=0, exact-fingerprint
        # dedup): (1<<64)-1 overflows LongType, and no mask is needed —
        # the chunk IS the fingerprint
        if widths[i] == 64:
            return F.col("fp")
        return (
            F.shiftrightunsigned(F.col("fp"), offsets[i])
            .bitwiseAND(F.lit((1 << widths[i]) - 1))
        )

    # empty-text filter on the RAW column, not on the UDF output — a
    # predicate on the UDF column makes Catalyst evaluate the UDF twice
    # (see the minhash note above); the UDF returns NULL exactly when
    # the trimmed text is empty, so this is the same row set.
    # spread_scan (round 8): the fingerprint kernel inherits scan
    # parallelism, and single-row-group fixture files scan as 1-2
    # partitions — a no-op once the input is genuinely multi-partition.
    from ..sources.tables import spread_scan

    fp = spread_scan(
        docs.where(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
    ).select(F.col(id_col).alias("id"), simhash64_udf()(F.col(text_col)).alias("fp"))
    chunks = fp.select(
        "id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("chunk_idx"),
                        _chunk_expr(i).alias("chunk"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select("id", "fp", "c.chunk_idx", "c.chunk")
    # the 8-byte fingerprint rides along into the bucket rows, so the
    # hamming verify is an inline expression — no join back to the corpus.
    #
    # Pair generation (round 8): a 2-D SALTED self-join replaces the
    # round-3..7 collect_list + in-place-combinations shape.  The old
    # shape generated each bucket's O(n²) pairs inside ONE task (the
    # explode of one aggregated row never redistributes), and the
    # over-cap self-join had the same disease — a hot (chunk_idx, chunk)
    # key's quadratic pair work is invisible to AQE's byte-based skew
    # detector (a 5k-member bucket is ~100 KB of rows but 12.3M hamming
    # evaluations; measured at sf1: 54M candidate pairs concentrated in
    # a handful of tasks = 21 s of stragglers).  Salting (guide §2.5)
    # bounds per-task work instead: each member gets a group id
    # ``g = xxhash64(id) % ns`` with ``ns = ceil(bucket_size /
    # salt_target)``; the left side replicates each row over all g2, the
    # right side over all g1, and the join key (chunk_idx, chunk, g1,
    # g2) meets every unordered pair exactly once at (g(a), g(b)) —
    # per-key work is ≤ salt_target² hamming evaluations no matter how
    # degenerate the bucket.  Replication is ns× per side (ns = 1, i.e.
    # free, for every bucket ≤ salt_target).  Same pair set, same
    # output: the i<j ordering comes from the id_a < id_b predicate the
    # over-cap path always used.
    from pyspark.sql import Window

    chunk_w = Window.partitionBy("chunk_idx", "chunk")
    sized = chunks.withColumn("_bs", F.count(F.lit(1)).over(chunk_w)).where(
        F.col("_bs") >= 2
    )
    salt_target = 256
    sized = sized.withColumn(
        "_ns", F.ceil(F.col("_bs") / F.lit(salt_target)).cast("int")
    )
    # referenced twice (both join sides) — without materialization
    # Catalyst re-evaluates the scan + fingerprint UDF + window per
    # reference.  The local checkpoint computes it once and serves both
    # references from executor storage; the call runs the window's
    # exchange (and the fingerprint UDF) here, at plan-build time.
    sized = sized.localCheckpoint(eager=False)
    grp = F.pmod(F.xxhash64(F.col("id")), F.col("_ns")).cast("int")
    fan = F.explode(F.sequence(F.lit(0), F.col("_ns") - 1))
    left = sized.select(
        "chunk_idx", "chunk", "id", "fp", grp.alias("_g1"), fan.alias("_g2")
    )
    right = sized.select(
        "chunk_idx", "chunk", "id", "fp", fan.alias("_g1"), grp.alias("_g2")
    )
    # SHUFFLE_HASH hint: both sides are narrow post-shuffle partitions of
    # known-bounded size; the sort-merge default pays a per-pair buffered
    # row copy on the quadratic in-key emission (an HOF-array variant
    # that filters before emission was measured SLOWER — interpreted
    # lambda ≈ join-row cost — and is documented in OPTIMIZATION_r08.md)
    pairs = (
        left.alias("a")
        .join(right.alias("b").hint("SHUFFLE_HASH"), ["chunk_idx", "chunk", "_g1", "_g2"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).alias("hamming"),
        )
    )
    return pairs.where(
        (F.col("hamming") <= max_hamming) & (F.col("id_a") != F.col("id_b"))
    ).distinct()


# ---------------------------------------------------------------------------
# duplicate clusters: connected components over near-dup pairs
# ---------------------------------------------------------------------------

# Pairs one clustering task may hold; the measured peak memory behind
# it is in duplicate_clusters' docstring.
MAX_CLUSTER_PAIRS = 10_000_000


def _min_label_components(a: pa.Array, b: pa.Array) -> tuple[pa.Array, pa.Array]:
    """Connected components of the graph whose edges are ``(a[i], b[i])``
    → ``(ids, cluster_ids)``: every distinct endpoint once, in ascending
    order, with the minimum id of its component.

    Nodes are ranked so that rank order is the order of the id type
    (``sort_indices`` over the dictionary; bytewise for strings, as in
    Spark).  Each round hooks every root to the smallest root across its
    edges (``np.minimum.at``) and then pointer-jumps to a fixpoint, so
    every node points at its root again.  Labels only decrease and a
    round with an unsettled edge hooks at least one root, so the loop
    ends; an edge whose endpoints share a root stays settled and is
    dropped.  A null endpoint is a node of its own, ``(null, null)``,
    and joins no edge."""
    nodes = pa.concat_arrays([a, b]).dictionary_encode()
    values = nodes.dictionary
    order = pc.sort_indices(values).to_numpy()
    rank = np.empty(len(order), dtype=np.int32)
    rank[order] = np.arange(len(order), dtype=np.int32)
    idx = nodes.indices.fill_null(0).to_numpy()
    n = len(a)
    valid = pc.and_(a.is_valid(), b.is_valid()).to_numpy(zero_copy_only=False)
    u, v = rank[idx[:n][valid]], rank[idx[n:][valid]]
    label = np.arange(len(order), dtype=np.int32)
    while True:
        lu, lv = label[u], label[v]
        open_ = lu != lv
        if not open_.any():
            break
        u, v, lu, lv = u[open_], v[open_], lu[open_], lv[open_]
        m = np.minimum(lu, lv)
        np.minimum.at(label, lu, m)
        np.minimum.at(label, lv, m)
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
    ids = values.take(order)
    cluster = ids.take(label)
    if nodes.null_count:
        ids = pa.concat_arrays([ids, pa.nulls(1, ids.type)])
        cluster = pa.concat_arrays([cluster, pa.nulls(1, ids.type)])
    return ids, cluster


def duplicate_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Connected components over near-duplicate PAIRS → duplicate
    CLUSTERS ``(id, cluster_id)`` with ``cluster_id`` = the minimum
    member id (the canonical representative).

    A dedup pipeline needs clusters, not pairs: transitive chains
    (A≈B, B≈C) must collapse to one keeper even when A and C never
    collided.  The pairs go to one task
    (``repartition(1).mapInArrow``), where
    :func:`_min_label_components` labels the whole graph with numpy
    array operations; the result is exact for any component shape, and
    building the frame runs no job.  Both id columns take their common
    type, which ``id`` and ``cluster_id`` keep.  Every distinct endpoint
    appears once; a null endpoint joins no edge and comes out as
    ``(null, null)``.

    Bound: that one task holds every endpoint.  Its peak RSS over the
    interpreter's, measured running ``_min_label_components`` on random
    pairs over 2N ids (pyarrow 16, numpy 1.26, x86-64), is 120-135
    bytes per pair for int64 ids at 3·10^6-10^7 pairs and 150-190 for
    ``"conv#turn"`` strings at 3·10^6-6·10^6; below ~2·10^6 pairs a
    fixed 150-250 MB of hash-table growth dominates (NOTES.md,
    "duplicate_clusters as one Arrow stage").  ``MAX_CLUSTER_PAIRS``
    keeps the task under ~2 GB: more pairs raise ``ValueError`` in the
    task before the kernel allocates.
    """
    id_type = pairs.select(F.coalesce(F.col(id_a), F.col(id_b))).schema[0].dataType
    edges = pairs.select(
        F.col(id_a).cast(id_type).alias("a"), F.col(id_b).cast(id_type).alias("b")
    )
    schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("cluster_id", id_type)]
    )

    def _components(batches):
        kept, n = [], 0
        for batch in batches:
            n += batch.num_rows
            if n > MAX_CLUSTER_PAIRS:
                raise ValueError(
                    f"duplicate_clusters: more than MAX_CLUSTER_PAIRS="
                    f"{MAX_CLUSTER_PAIRS} pairs; one task holds them all"
                )
            kept.append(batch)
        if not n:
            return
        t = pa.Table.from_batches(kept)
        ids, cluster = _min_label_components(
            t["a"].combine_chunks(), t["b"].combine_chunks()
        )
        # bounded batches keep each Arrow message to the JVM small
        yield from pa.table({"id": ids, "cluster_id": cluster}).to_batches(65536)

    return edges.repartition(1).mapInArrow(_components, schema=schema)


def dedup_keep_canonical(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Drop every non-canonical member of each duplicate cluster: keep
    the minimum id per connected component, plus all docs that appear in
    no pair.  The cluster table is tiny relative to the corpus (only
    docs with at least one near-dup), so the anti side broadcasts."""
    clusters = duplicate_clusters(pairs)
    losers = clusters.where(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(F.broadcast(losers), id_col, "left_anti")


def dedup_keep_representative(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Collapse near-duplicate clusters keeping the BEST member — the
    C4/RefinedWeb curation rule where the keeper is chosen by quality,
    not by id.

    ``score_col``: name of an existing per-doc score column; when None,
    the composite ``quality_score`` from
    :func:`..operators.textstats.quality_features` is computed for
    CLUSTERED docs only.  One broadcast join of the corpus to the
    clusters narrows it to the clustered slice and carries
    ``cluster_id`` into scoring and ranking, so the clusters are
    computed once per action.  Winner per cluster = max score, ties
    broken by MIN id (so the result is deterministic and degenerates to
    :func:`dedup_keep_canonical` under constant scores).  Docs in no
    pair pass through untouched.

    Scale shape: clusters table is near-dup-sized (tiny vs corpus);
    the winner choice is one window over it; losers broadcast into a
    left-anti join against the corpus — the full corpus is never
    shuffled."""
    clustered = docs.join(
        F.broadcast(
            duplicate_clusters(pairs).select(
                F.col("id").alias(id_col), F.col("cluster_id").alias("_cid")
            )
        ),
        id_col,
    )
    if score_col is None:
        from .textstats import quality_features

        clustered = quality_features(clustered, text_col=text_col)
        score_col = "quality_score"
    from pyspark.sql import Window

    # collapse duplicate doc_id rows (messy input) to one member row per
    # (cluster, id) BEFORE ranking — otherwise a duplicated winning id
    # would rank 1 and 2 and its _rk=2 copy would put the winner itself
    # into the loser set, deleting the cluster's best document
    member = clustered.groupBy("_cid", F.col(id_col).alias("id")).agg(
        F.max(score_col).alias("_s")
    )
    # max score, tie → min id — row_number keeps the rule type-agnostic
    # (ids may be strings/UUIDs; negating an id would silently NULL
    # non-numeric types).  The window partitions are CLUSTERS of the
    # near-dup-sized table, so no corpus-scale hot key exists.
    losers = (
        member.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("_cid").orderBy(F.desc("_s"), F.asc("id"))
            ),
        )
        .where(F.col("_rk") > 1)
        .select(F.col("id").alias(id_col))
    )
    return docs.join(F.broadcast(losers), id_col, "left_anti")


# ---------------------------------------------------------------------------
# n-gram Jaccard & embedding near-dup
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    docs: DataFrame,
    block_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact token-n-gram Jaccard for every pair within a blocking key
    (pairwise work is bounded per block — the scale-path is to block on
    an LSH band; this is the verify kernel)."""
    t = docs.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id"),
        shingles(tokens(text_col), n).alias("sh"),
    )
    j = (
        t.alias("l")
        .join(t.alias("r"), (F.col("l.blk") == F.col("r.blk")) & (F.col("l.id") < F.col("r.id")))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(
                F.size(F.array_intersect("l.sh", "r.sh"))
                / F.size(F.array_union("l.sh", "r.sh")),
                6,
            ).alias("jaccard"),
        )
    )
    return j.where(F.col("jaccard") >= threshold)


def containment_pairs(
    docs: DataFrame,
    block_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    threshold: float = 0.0,
) -> DataFrame:
    """Asymmetric shingle containment per in-block pair — the
    quote/inclusion detector symmetric Jaccard misses.

    ``cont_a_in_b = |S_A ∩ S_B| / |S_A|`` (share of A's distinct
    n-gram shingles that also appear in B); a short document quoted
    verbatim inside a long one scores containment ≈ 1 while its
    Jaccard stays ≈ |A|/|B| ≈ 0.  Returns both directions plus the
    symmetric max, filtered at ``threshold`` on the max (0.0 = audit
    mode, emit every in-block pair).

    Same blocking contract as :func:`ngram_jaccard_pairs`: pairwise
    work is bounded per block; the scale path blocks on an LSH band
    (reference analog: the assessment stage's attribute-overlap
    checks, ``evaluation/comparator.py`` — here generalized to corpus
    curation).  All arithmetic is integer-set size division, so the
    6-dp round is cross-engine exact."""
    t = docs.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id"),
        shingles(tokens(text_col), n).alias("sh"),
    )
    j = (
        t.alias("l")
        .join(
            t.alias("r"),
            (F.col("l.blk") == F.col("r.blk")) & (F.col("l.id") < F.col("r.id")),
        )
        # inner projection: the array_intersect is the expensive
        # subtree and feeds three output columns — single-evaluate it
        # (HOF/CSE note, plans/corpus_queries.py semantic_cosine_eval)
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.size(F.array_intersect("l.sh", "r.sh")).alias("_i"),
            F.size("l.sh").alias("_la"),
            F.size("r.sh").alias("_lb"),
        )
        .select(
            "id_a",
            "id_b",
            F.round(F.col("_i") / F.col("_la"), 6).alias("cont_a_in_b"),
            F.round(F.col("_i") / F.col("_lb"), 6).alias("cont_b_in_a"),
            F.round(
                F.greatest(F.col("_i") / F.col("_la"), F.col("_i") / F.col("_lb")),
                6,
            ).alias("containment"),
        )
    )
    return j.where(F.col("containment") >= threshold)


def embedding_near_dup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs ≥ threshold.

    With ``block_col`` (e.g. an LSH bucket or cluster label) the join is
    block-local; without it, brute-force — correct baseline for small
    dims, replaced by :mod:`.similarity` LSH at scale."""
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    t = emb.select(*cols)
    cond = F.col("l.id") < F.col("r.id")
    if block_col:
        cond = cond & (F.col("l.blk") == F.col("r.blk"))
    return (
        t.alias("l")
        .join(t.alias("r"), cond)
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(cosine_sim(F.col("l.v"), F.col("r.v")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Test-set decontamination: flag training documents sharing any
    word ``n``-gram with a benchmark/eval set (the GPT-3/PaLM-style
    13-gram overlap rule; the fixture queries use smaller n).  The
    benchmark side is small by definition → its distinct shingles
    BROADCAST; training docs explode shingles once and a broadcast
    semi-join marks hits, so the big side shuffles (id, hit-count)
    only.  Returns (id, n_hits, contaminated) for every doc — audit
    first, filter second."""
    bench_grams = F.broadcast(
        benchmark.select(
            F.explode(shingles(tokens(bench_text_col), n)).alias("_g")
        ).distinct()
    )
    doc_grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode_outer(shingles(tokens(text_col), n)).alias("_g"),
    )
    hits = doc_grams.join(
        bench_grams.withColumn("_hit", F.lit(True)), "_g", "left"
    )
    return hits.groupBy("id").agg(
        F.count(F.col("_hit")).alias("n_hits"),
        (F.count(F.col("_hit")) > 0).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# exact-substring span removal (suffix-array dedup analog)
# ---------------------------------------------------------------------------

def remove_duplicated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_n: int = 5,
    min_span_tokens: int = 10,
    keep_first: bool = False,
) -> DataFrame:
    """Exact-substring dedup: REMOVE globally-duplicated token runs —
    the Spark-first analog of suffix-array substring dedup (Lee et
    al., "Deduplicating Training Data Makes Language Models Better"),
    going one step past ``duplicate_ngram_spans``' detection to
    produce the cleaned corpus.

    A position-``i`` token ``gram_n``-gram that occurs 2+ times
    corpus-wide marks a duplicated window ``[i, i+n-1]``;
    overlapping/adjacent windows (gap ≤ ``gram_n``) merge into maximal
    spans via gaps-and-islands, and spans covering at least
    ``min_span_tokens`` tokens are cut from the document.  Output per
    document: token count, removed-token count, and the cleaned text
    (kept tokens of the lowercased whitespace tokenization, joined by
    single spaces — the same canonical form every dedup operator here
    hashes).

    Plan shape (the 100-TB story):
      1. positional gram hashes exploded once — shuffle rows are
         (id, pos, 8-byte xxhash64), never text.  The gram hash never
         crosses engines or appears in output (grouping only), so the
         engine-local 64-bit hash is free parity-wise: the DuckDB
         oracle groups md5 over the same gram strings and reaches the
         same duplicate decisions (collision odds ~n²·2⁻⁶⁵ ≈ 3e-4 at
         10⁸ grams; a collision can only over-mark one gram window —
         same non-adversarial caveat as the sighash family).
         Measured at the 2.6M-turn drill: md5-hex grams shuffled
         13.0 GB; xxhash64 cut that (see NOTES r7);
      2. ONE exchange on the gram hash serves the global multiplicity
         (window count; same skew note as ``duplicate_ngram_spans`` —
         cap gram multiplicity first on corpora where a single gram
         can repeat 10^9 times);
      3. islands + spans are per-document window/agg work on the
         (tiny) duplicated-position subset, partitioned by id;
      4. span sets re-join the token arrays by id (left join; docs
         with no qualifying span pass through untouched), and the
         kept-position filter runs as ONE higher-order-function pass
         evaluated in an inner projection (single evaluation — the
         repeated-HOF-subtree gate covers this plan).  The spans side
         holds ONLY documents with a qualifying duplicated run, so at
         healthy dup rates it broadcasts (the plan PLANS.md pins); on
         a pathologically duplicated corpus AQE falls back to a
         shuffle join whose worst case is one text exchange — the
         same single-text-shuffle budget as the C4 paragraph dedup.
    ``keep_first=False`` (default) removes EVERY occurrence of a
    duplicated run — the conservative curation mode.  ``keep_first=
    True`` is the Lee-et-al production mode: the globally FIRST
    occurrence of each gram (total order by ``(doc_id, pos)``) is not
    marked, so one copy of each duplicated passage survives; the rank
    rides the SAME gram-hash exchange as the multiplicity count (two
    Window ops, one Exchange).

    Reference analog: the OCR post-processing dedup the reference
    applies per document (``ocr/service.py`` text assembly) lifted to
    corpus scope."""
    from pyspark.sql import Window

    n = gram_n
    toks = docs.select(F.col(id_col).alias("id"), tokens(text_col).alias("_t"))
    grams = (
        toks.where(F.size("_t") >= n)
        .select(
            "id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_t") - (n - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.xxhash64(
                            F.concat_ws(" ", F.slice(F.col("_t"), i, n))
                        ).alias("g"),
                    ),
                )
            ).alias("_pg"),
        )
        .select("id", F.col("_pg.pos").alias("pos"), F.col("_pg.g").alias("g"))
    )
    counted = grams.withColumn(
        "_c", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    if keep_first:
        counted = counted.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("g").orderBy("id", "pos")
            ),
        )
        dup = counted.where(
            (F.col("_c") > 1) & (F.col("_rn") > 1)
        ).select("id", "pos")
    else:
        dup = counted.where(F.col("_c") > 1).select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    brk = dup.withColumn(
        "_brk",
        F.when(F.col("pos") - F.lag("pos").over(w) <= n, F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    grp = brk.withColumn("_gid", F.sum("_brk").over(w))
    spans = (
        grp.groupBy("id", "_gid")
        .agg(F.min("pos").alias("s"), (F.max("pos") + (n - 1)).alias("e"))
        .where(F.col("e") - F.col("s") + 1 >= min_span_tokens)
        .groupBy("id")
        .agg(F.collect_list(F.struct("s", "e")).alias("_spans"))
    )
    base = toks.join(spans, "id", "left").select(
        "id",
        "_t",
        F.coalesce(
            "_spans", F.array().cast("array<struct<s:int,e:int>>")
        ).alias("_spans"),
    )
    # sequence(1, 0) would DESCEND — guard the empty-token case
    positions = F.when(F.size("_t") < 1, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(1), F.size("_t"))
    )
    kept = F.filter(
        positions,
        lambda p: ~F.exists(
            F.col("_spans"), lambda sp: (p >= sp["s"]) & (p <= sp["e"])
        ),
    )
    proj = base.select(
        "id", "_t", F.size("_t").alias("_n"), kept.alias("_kp")
    )
    return proj.select(
        F.col("id").alias(id_col),
        F.col("_n").cast("bigint").alias("n_tokens"),
        (F.col("_n") - F.size("_kp")).cast("bigint").alias("n_removed"),
        F.array_join(
            F.transform("_kp", lambda p: F.element_at(F.col("_t"), p)), " "
        ).alias("cleaned_text"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter incremental dedup (membership pruning for snapshot ingestion)
# ---------------------------------------------------------------------------

def bloom_build(
    ref: DataFrame,
    key_col: str,
    m_bits: int = 1 << 22,
    k: int = 7,
) -> bytes:
    """Build a Bloom-filter bitmap over ``ref[key_col]`` (Dolma-style
    membership structure, Spark-distributed build).

    Each key sets ``k`` bit positions derived from two xxhash64 draws
    via the Kirsch-Mitzenmacher double-hashing scheme h1 + i·h2 — the
    standard trick that gets k independent-enough probes from two
    hashes.  Per-partition bitmaps are OR-reduced: ``mapInPandas``
    emits ONE m/8-byte row per partition and the driver ORs them
    streaming via ``toLocalIterator`` (never more than one bitmap in
    flight).  At 10^12 keys, size m by the standard formula
    m = -n·ln p / (ln 2)² ≈ 9.6 bits/key at p=1% — a 1.2 TB bitmap is
    infeasible to broadcast, so the production shape shards the filter
    by key-hash prefix (each executor holds 1/S of the bitmap and the
    probe repartitions by shard id); this single-bitmap form is the
    ≤~1e8-key regime (≤120 MB broadcast), which covers per-snapshot
    incremental ingestion.

    Sizing is the caller's contract: FPR ≈ (1 - e^(-k·n/m))^k.  False
    positives are handled by the exact-verify pass in
    :func:`bloom_incremental_dedup`; false negatives are impossible by
    construction (every set bit survives the OR-reduce) — PROVIDED the
    probe uses the same k, so k is embedded in the returned blob's
    8-byte header and the probe reads it from there (a probe/build
    parameter mismatch is unrepresentable — the same artifact-
    validation rule as the IVF ``ivf_n_lists`` stamp)."""
    import numpy as np

    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    if not (1 <= k <= 64):
        raise ValueError("k must be in [1, 64]")
    n_words = m_bits // 64

    hashed = ref.select(
        F.xxhash64(F.col(key_col)).alias("_h1"),
        F.xxhash64(F.col(key_col), F.lit(0x9E3779B9)).alias("_h2"),
    )

    def _partition_bitmap(batches):
        bm = np.zeros(n_words, dtype=np.uint64)
        for pdf in batches:
            h1 = pdf["_h1"].to_numpy(dtype=np.int64).astype(np.uint64)
            h2 = pdf["_h2"].to_numpy(dtype=np.int64).astype(np.uint64)
            for i in range(k):
                pos = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
                np.bitwise_or.at(
                    bm, (pos >> np.uint64(6)).astype(np.int64),
                    np.uint64(1) << (pos & np.uint64(63)),
                )
        yield pd.DataFrame({"bitmap": [bm.tobytes()]})

    rows = hashed.mapInPandas(
        _partition_bitmap, schema="bitmap binary"
    ).toLocalIterator()
    acc = np.zeros(n_words, dtype=np.uint64)
    for row in rows:
        acc |= np.frombuffer(row["bitmap"], dtype=np.uint64)
    return np.array([k], dtype=np.uint64).tobytes() + acc.tobytes()


def bloom_incremental_dedup(
    incoming: DataFrame,
    ref: DataFrame,
    bitmap: bytes,
    key_col: str = "content_hash",
    materialize: bool = True,
) -> DataFrame:
    """Incremental-ingestion exact dedup with Bloom pre-pruning:
    return the ``incoming`` rows whose ``key_col`` does NOT appear in
    ``ref`` — exact anti-join SEMANTICS, Bloom-optimized PLAN.

    The naive anti-join shuffles every incoming row against the
    historical corpus.  Here a broadcast bitmap probe (Arrow-batched
    pandas UDF, numpy gather — no per-row Python) splits incoming
    into definitely-novel (bit miss → keep immediately, no shuffle)
    and possibly-seen (bit hit → exact LEFT ANTI join against ref
    verifies).  Only the possibly-seen slice — true duplicates plus
    the FPR-sized sliver of false positives — pays the join, so at a
    1% FPR and a 5% dup rate the anti-join processes ~6% of incoming
    instead of 100%.  False negatives cannot occur, so the result is
    IDENTICAL to the plain anti-join (the registry oracle pins this).

    The bitmap ships once per executor via a SparkContext broadcast;
    the returned frame carries the original incoming columns.
    Reference analog: the document-tracking "already processed" check
    the reference does per-object against DynamoDB
    (``idp_common/dynamodb/service.py``) — here lifted to corpus scope
    as the checkpoint anti-join's (``sources/checkpoint.py``)
    membership-accelerated form.

    ``materialize=True`` (default) localCheckpoints the probed frame
    (``eager=False``; the call still runs any exchange in
    ``incoming``'s plan, and the blocks stay in executor storage until
    the session ends) so the two consumers (novel fast path, verify
    join) share ONE scan+probe evaluation — the same single-evaluation
    defense as the repaired LSH carry=False leg (a filter on a
    pandas-UDF output column otherwise re-plans the UDF per branch: two
    ArrowEvalPython nodes, two input scans).  Set it False only when the
    input is itself a cheap in-memory frame."""
    import numpy as np

    k = int(np.frombuffer(bitmap[:8], dtype=np.uint64)[0])
    if not (1 <= k <= 64):
        raise ValueError(
            "bitmap blob has no valid k header — build it with bloom_build"
        )
    m_bits = (len(bitmap) - 8) * 8
    sc = incoming.sparkSession.sparkContext
    bc = sc.broadcast(bitmap[8:])

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.BooleanType())
    def _maybe_seen(h1s: pd.Series, h2s: pd.Series) -> pd.Series:
        bm = np.frombuffer(bc.value, dtype=np.uint64)
        h1 = h1s.to_numpy(dtype=np.int64).astype(np.uint64)
        h2 = h2s.to_numpy(dtype=np.int64).astype(np.uint64)
        hit = np.ones(len(h1), dtype=bool)
        for i in range(k):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
            word = bm[(pos >> np.uint64(6)).astype(np.int64)]
            hit &= (word >> (pos & np.uint64(63))) & np.uint64(1) != 0
        return pd.Series(hit)

    probed = incoming.withColumn(
        "_maybe",
        _maybe_seen(
            F.xxhash64(F.col(key_col)),
            F.xxhash64(F.col(key_col), F.lit(0x9E3779B9)),
        ),
    )
    if materialize:
        # blocks stay in executor storage until the session ends
        probed = probed.localCheckpoint(eager=False)
    novel_fast = probed.where(~F.col("_maybe")).drop("_maybe")
    survivors = (
        probed.where(F.col("_maybe"))
        .drop("_maybe")
        .join(ref.select(key_col).distinct(), key_col, "left_anti")
    )
    return novel_fast.unionByName(survivors)
