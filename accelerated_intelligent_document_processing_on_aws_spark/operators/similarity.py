"""Approximate-nearest-neighbor search over an embedding column.

Baseline: brute-force cosine top-k — a broadcast join of the (small)
query set against the corpus with the cosine computed as a Catalyst
expression, then a per-query ``row_number`` window.  Exact, and the
correctness oracle for the approximate paths.

Scale paths:
- **LSH (sign random projection)**: B seeded hyperplanes → B-bit bucket
  id per vector; queries probe only their bucket (optionally hamming-1
  neighbors).  Candidate set shrinks ~2^B-fold; recall tunable via B
  and n_tables.
- **IVF**: coarse quantizer of C centroids (seeded deterministic
  sample, Lloyd-refined in a few driver-side iterations over a SAMPLE,
  never the corpus); vectors partition by nearest centroid; queries
  probe ``nprobe`` nearest lists.

Both approximate paths reuse the same final exact-cosine rerank over
candidates, so precision is exact; only recall is approximate.
"""

from __future__ import annotations

import math
import random

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_sim


def _topk_by_query(scored: DataFrame, k: int) -> DataFrame:
    """Rank on the RAW cosine (deterministic tiebreak on vec_id), round
    only for output — keeps rank stable across engines/float paths."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k neighbors: broadcast(queries) × corpus → cosine →
    windowed top-k.  One shuffle (the window on query_id).

    Round-8 shape (same values): the L2 norms are evaluated ONCE PER
    ROW on each side before the crossJoin instead of once per
    (query, candidate) pair — ``l2_norm`` is the identical sequential
    aggregate over the identical array, and IEEE multiplication is
    commutative, so ``dot/(nq*nv)`` is bit-equal to the inline
    ``cosine_sim`` — and the corpus side is spread off its 1-2
    scan partitions so the |corpus|×|queries| HOF arithmetic uses
    every core (guide §2.5; no-op for multi-partition input)."""
    from ..functions.vectors import _dot, l2_norm
    from ..sources.tables import spread_scan

    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv")
        ).withColumn("_nq", l2_norm(F.col("qv")))
    )
    c = spread_scan(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    ).withColumn("_nv", l2_norm(F.col("v")))
    denom = F.col("_nq") * F.col("_nv")
    scored = c.crossJoin(q).select(
        "query_id",
        "vec_id",
        F.when(denom > 0, _dot(F.col("qv"), F.col("v")) / denom)
        .otherwise(F.lit(0.0))
        .alias("cosine"),
    )
    return _topk_by_query(scored, k)


# ---------------------------------------------------------------------------
# LSH: sign random projection
# ---------------------------------------------------------------------------

def _projections(dim: int, bits: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def srp_bucket(vec_col, planes: list[list[float]]):
    """B-bit sign-random-projection bucket id as a Catalyst expression:
    bit_j = (v · plane_j) > 0, packed into an int."""
    bits = []
    for j, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(x) for x in plane])
        dot = F.aggregate(
            F.zip_with(vec_col, lit_plane, lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def srp_buckets_udf(planes_per_table: list[list[list[float]]]):
    """All tables' SRP buckets in one vectorized numpy pass.

    The pure-Catalyst :func:`srp_bucket` builds a (tables × bits × dim)
    literal expression tree whose codegen cost dwarfs the arithmetic;
    one Arrow-batched matmul computes every bucket at ~memory bandwidth.
    Returns array<int> of length n_tables per row."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    mats = [np.asarray(p, dtype=np.float64).T for p in planes_per_table]  # dim×bits
    weights = [1 << np.arange(m.shape[1]) for m in mats]

    @pandas_udf(ArrayType(IntegerType()))
    def _buckets(v: pd.Series) -> pd.Series:
        M = np.vstack(v.to_numpy()).astype(np.float64)  # n×dim
        cols = [((M @ mat) > 0) @ w for mat, w in zip(mats, weights)]
        B = np.stack(cols, axis=1).astype("int32")
        return pd.Series(list(B))

    return _buckets


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    bits: int = 4,
    n_tables: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: bucket corpus and queries by SRP signatures in
    ``n_tables`` independent hash tables, union bucket-equality joins,
    exact-cosine rerank over the de-duplicated candidates.  Recall rises
    with n_tables at linear candidate cost; the corpus bucketing is
    computable once and persisted in practice (write each table's bucket
    as a column of the embedding table)."""
    planes = [_projections(dim, bits, seed + t) for t in range(n_tables)]
    buckets = srp_buckets_udf(planes)
    # explode every vector's (table_idx, bucket) pairs ONCE and join once
    # on the composite key — one pass over the corpus regardless of
    # n_tables (round 1 ran n_tables separate broadcast joins, each
    # re-planning the corpus scan + bucket UDF)
    from ..sources.tables import spread_scan

    ce = spread_scan(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    ).select("vec_id", "v", F.posexplode(buckets(F.col("v"))).alias("table_idx", "bucket"))
    qe = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv")
    ).select(
        "query_id", "qv", F.posexplode(buckets(F.col("qv"))).alias("table_idx", "bucket")
    )
    cand = ce.join(F.broadcast(qe), ["table_idx", "bucket"]).select(
        "query_id", "vec_id", "qv", "v"
    )
    scored = cand.dropDuplicates(["query_id", "vec_id"]).select(
        "query_id",
        "vec_id",
        cosine_sim(F.col("qv"), F.col("v")).alias("cosine"),
    )
    return _topk_by_query(scored, k)


# ---------------------------------------------------------------------------
# IVF: coarse quantizer
# ---------------------------------------------------------------------------

def train_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    sample_fraction: float = 0.1,
    iters: int = 3,
    seed: int = 7,
) -> list[list[float]]:
    """Tiny driver-side Lloyd refinement over a SAMPLE of the corpus
    (the model is O(C·dim) — the corpus never leaves the executors
    except this bounded sample)."""
    sample = [
        list(r[0])
        for r in corpus.select(vec_col).sample(fraction=sample_fraction, seed=seed).limit(
            max(2000, 50 * n_centroids)
        ).collect()
    ]
    rng = random.Random(seed)
    cents = [list(v) for v in rng.sample(sample, min(n_centroids, len(sample)))]
    for _ in range(iters):
        sums = [[0.0] * len(c) for c in cents]
        counts = [0] * len(cents)
        for v in sample:
            best, best_d = 0, float("inf")
            for ci, c in enumerate(cents):
                d = sum((a - b) ** 2 for a, b in zip(v, c))
                if d < best_d:
                    best, best_d = ci, d
            counts[best] += 1
            s = sums[best]
            for j, a in enumerate(v):
                s[j] += a
        for ci in range(len(cents)):
            if counts[ci]:
                cents[ci] = [s / counts[ci] for s in sums[ci]]
    return cents


def _nearest_centroid(vec_col, cents: list[list[float]]):
    """argmin_c ||v - c||² as a Catalyst expression over literal centroids."""
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    vec_col,
                    F.array(*[F.lit(x) for x in c]),
                    lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in cents
        ]
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def assign_ivf_lists(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the IVF inverted index: (vec_id, v, list_id) with each
    vector assigned to its nearest centroid.  This is the INDEX-BUILD
    half of IVF — at production scale it runs once per corpus version
    and persists as a table partitioned/bucketed by ``list_id``, so
    query serving only pays the probe-side cost.  ``ivf_topk`` accepts
    this pre-assigned frame directly (it detects the ``list_id``
    column), which is how the amortized serving path should be driven;
    passing the raw corpus instead re-assigns inline every call —
    correct, but at C centroids that costs O(C·dim) per vector per
    call, which can exceed the brute scan itself when the query batch
    is small (measured in BENCH/ANN_CURVES.md's crossover table).

    The ``list_id`` column carries ``ivf_n_lists`` field metadata (the
    centroid count the index was built against); ``ivf_topk(...,
    prebuilt=True)`` validates it so a stale index built from a
    different centroid model — or an unrelated column that merely
    happens to be named ``list_id`` — is rejected instead of silently
    degrading recall.  Spark persists field metadata through parquet
    round-trips, so a persisted index table keeps the stamp."""
    assigned = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    ).withColumn("list_id", _nearest_centroid(F.col("v"), centroids))
    return assigned.withColumn(
        "list_id",
        F.col("list_id").alias("list_id", metadata={"ivf_n_lists": len(centroids)}),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    prebuilt: bool = False,
) -> DataFrame:
    """IVF search: corpus assigned to nearest centroid list (one narrow
    column, persistable as table partition); each query probes its
    ``nprobe`` nearest lists; exact rerank inside the probed lists.

    Pass ``prebuilt=True`` when ``corpus`` is the output of
    :func:`assign_ivf_lists` (possibly read back from a persisted index
    table): the stored assignment is reused instead of recomputed.  The
    reuse is explicitly opted into AND validated — the ``list_id``
    column must carry the ``ivf_n_lists`` metadata stamp written by
    :func:`assign_ivf_lists` and it must equal ``len(centroids)``,
    otherwise probe selection (computed from the passed centroids) and
    list assignment (read from the frame) could disagree and silently
    return wrong neighbors.  Without ``prebuilt``, any ``list_id``
    column on the input is ignored and assignment is recomputed."""
    if prebuilt:
        if "list_id" not in corpus.columns:
            raise ValueError(
                "prebuilt=True requires a list_id column "
                "(the output of assign_ivf_lists)"
            )
        meta = corpus.schema["list_id"].metadata or {}
        n_lists = meta.get("ivf_n_lists")
        if n_lists != len(centroids):
            raise ValueError(
                f"prebuilt index was built against {n_lists} lists "
                f"(ivf_n_lists metadata) but {len(centroids)} centroids "
                "were passed — rebuild the index with assign_ivf_lists "
                "using these centroids"
            )
        c = corpus.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col if vec_col in corpus.columns else "v").alias("v"),
            "list_id",
        )
    else:
        c = corpus.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
        ).withColumn("list_id", _nearest_centroid(F.col("v"), centroids))
    # per-query probe lists computed DISTRIBUTED: distances to the
    # (literal, O(C·dim)) centroids as an array expression, then the
    # nprobe smallest via explode + window rank — no driver collect, so
    # the query set can itself be corpus-sized
    dists = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("qv"),
                        F.array(*[F.lit(x) for x in cent]),
                        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("dist"),
                F.lit(ci).cast("int").alias("list_id"),
            )
            for ci, cent in enumerate(centroids)
        ]
    )
    qbase = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv")
    )
    ranked = qbase.select(
        "query_id", "qv", F.explode(dists).alias("d")
    ).withColumn(
        "probe_rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.asc("d.dist"), F.asc("d.list_id"))
        ),
    )
    q = ranked.where(F.col("probe_rank") <= nprobe).select(
        "query_id", F.col("d.list_id").alias("list_id"), "qv"
    )
    scored = c.join(F.broadcast(q), "list_id").select(
        "query_id",
        "vec_id",
        cosine_sim(F.col("qv"), F.col("v")).alias("cosine"),
    )
    return _topk_by_query(scored, k)


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int) -> float:
    """Fraction of exact top-k pairs recovered by the approximate path."""
    a = approx.where(F.col("rank") <= k).select("query_id", "vec_id")
    e = exact.where(F.col("rank") <= k).select("query_id", "vec_id")
    hit = a.join(e, ["query_id", "vec_id"]).count()
    total = e.count()
    return hit / total if total else math.nan


def train_centroids_distributed(
    corpus: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    iters: int = 3,
    seed: int = 7,
    init_sample: int = 4000,
) -> list[list[float]]:
    """Distributed Lloyd refinement: assignment and the per-cluster mean
    run on the EXECUTORS (the full corpus participates), only the
    O(C·dim) centroid model crosses the driver boundary per iteration —
    the scale path past :func:`train_centroids`'s sample-only training
    (whose model quality is capped by what a bounded sample sees).

    Per iteration: nearest-centroid assignment is a Catalyst expression
    over literal centroids (no UDF), the new means come from ONE
    posexplode + (cluster, dim) aggregation — two shuffles total, both
    over narrow (id/cluster, dim, value) rows, never over raw text.
    Deterministic: hash-ordered init sample, stable tie-breaks."""
    dim = len(corpus.select(vec_col).first()[0])
    # deterministic init: md5-ordered sample (no RNG, reproducible)
    init_rows = (
        corpus.select(F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.col("v").cast("string")))
        .limit(max(n_centroids, min(init_sample, n_centroids * 250)))
        .collect()
    )
    cents = [list(r["v"]) for r in init_rows[:n_centroids]]
    base = corpus.select(F.col(vec_col).alias("v"))
    for _ in range(iters):
        assigned = base.withColumn("list_id", _nearest_centroid(F.col("v"), cents))
        means = (
            assigned.select("list_id", F.posexplode("v").alias("dim_idx", "val"))
            .groupBy("list_id", "dim_idx")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        new = [list(c) for c in cents]  # empty clusters keep their centroid
        acc: dict[int, list[float]] = {}
        for r in means:
            acc.setdefault(r["list_id"], [0.0] * dim)[r["dim_idx"]] = r["m"]
        for li, vec in acc.items():
            new[li] = vec
        cents = new
    return cents


def quantize_embeddings_int8(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "q8"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q = round(x / scale) — 4× smaller at-rest vectors (the standard
    storage/IO lever for billion-vector corpora; rerank still uses the
    float column where precision matters).  Emits the quantized
    ``array<tinyint>`` plus the per-vector ``scale`` needed to
    dequantize.  Pure Catalyst array math, no UDF."""
    v = F.col(vec_col)
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(max_abs > 0, max_abs / F.lit(127.0)).otherwise(F.lit(1.0))
    return df.withColumn("scale", scale).withColumn(
        out_col,
        F.transform(
            v, lambda x: F.round(x.cast("double") / F.col("scale")).cast("tinyint")
        ),
    )


def dequantize_int8(q_col, scale_col) -> "F.Column":
    """array<tinyint> + scale → array<double> (the read-side inverse)."""
    return F.transform(q_col, lambda x: x.cast("double") * scale_col)


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-scale ANN path
# ---------------------------------------------------------------------------

def train_pq_codebooks(
    corpus: DataFrame,
    n_subspaces: int = 4,
    n_codes: int = 16,
    vec_col: str = "embedding",
    iters: int = 3,
) -> list[list[list[float]]]:
    """Train PQ codebooks: split the vector into ``n_subspaces``
    contiguous sub-vectors, run the distributed Lloyd trainer per
    subspace.  Returns ``codebooks[s][c] -> sub-centroid`` — the
    O(m·k·dim/m) model, broadcast-sized at any corpus scale.

    At 10^12 vectors PQ is the memory lever IVF/int8 can't reach:
    8 bits per subspace (vs 8 per DIMENSION for int8) stores a
    d=768 vector in m bytes — ~100× smaller — and asymmetric-distance
    scoring needs only the m×k lookup tables per query."""
    dim = len(corpus.select(vec_col).first()[0])
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces} subspaces")
    w = dim // n_subspaces
    books: list[list[list[float]]] = []
    for s in range(n_subspaces):
        sub = corpus.select(
            F.slice(F.col(vec_col), s * w + 1, w).alias("embedding")
        )
        books.append(
            train_centroids_distributed(
                sub, n_centroids=n_codes, vec_col="embedding", iters=iters
            )
        )
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode each vector as ``array<int>`` of per-subspace nearest
    code ids.  Pure Catalyst: per subspace, the argmin over the
    (broadcast-literal) codebook reuses the IVF nearest-centroid
    expression on the sliced sub-vector — no UDF, no shuffle."""
    m = len(codebooks)
    w = len(codebooks[0][0])
    codes = [
        _nearest_centroid(F.slice(F.col(vec_col), s * w + 1, w), codebooks[s])
        for s in range(m)
    ]
    return df.withColumn(out_col, F.array(*codes))


def pq_decode_expr(code_col, codebooks: list[list[list[float]]]):
    """array<int> codes → reconstructed array<double> (concatenated
    sub-centroids).  Catalyst-only; used by tests and by rerank-free
    scoring."""
    m = len(codebooks)
    parts = []
    for s in range(m):
        book = F.array(
            *[
                F.array(*[F.lit(float(x)) for x in cent])
                for cent in codebooks[s]
            ]
        )
        parts.append(F.element_at(book, F.element_at(code_col, s + 1) + 1))
    return F.flatten(F.array(*parts))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query stays float, the
    corpus is its PQ codes; score = cosine(query, reconstruction(code)).
    Implemented as code → reconstructed vector (Catalyst lookup into
    the broadcast-literal codebooks) → cosine vs query — one
    crossJoin(broadcast(queries)) like the brute-force oracle but over
    m-int codes instead of d-float vectors: the scan side shrinks
    ~d/m ×, which is the point at 10^12 vectors.  Probabilistic recall
    (quantization error) → rows-only driver entry; recall is gated in
    pytest against the exact brute force."""
    from ..functions.vectors import cosine_sim

    encoded = pq_encode(corpus, codebooks, vec_col=vec_col).select(
        F.col(id_col).alias("vec_id"), "pq_code"
    )
    recon = pq_decode_expr(F.col("pq_code"), codebooks)
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("_qv"),
        )
    )
    scored = encoded.crossJoin(q).select(
        "query_id",
        "vec_id",
        cosine_sim(recon, F.col("_qv")).alias("cosine"),
    )
    return _topk_by_query(scored, k)


def pq_topk_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """PQ shortlist → exact rerank: the production ANN shape.

    The ADC pass over m-int codes produces a ``shortlist`` per query;
    only those |queries|·shortlist rows join back to their float
    vectors for the exact cosine — at 10^12 vectors the full-precision
    compute shrinks from corpus-sized to shortlist-sized while the
    scan-side stays code-sized.  Recall is set by the shortlist depth
    (gated in pytest vs exact brute force), not by PQ's raw top-k
    fragility."""
    from ..functions.vectors import cosine_sim

    sl = pq_topk(
        corpus,
        queries,
        codebooks,
        k=shortlist,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    ).select("query_id", "vec_id")
    vecs = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv"))
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("_qv"),
        )
    )
    scored = (
        sl.join(vecs, "vec_id")
        .join(q, "query_id")
        .select("query_id", "vec_id", cosine_sim(F.col("_cv"), F.col("_qv")).alias("cosine"))
    )
    return _topk_by_query(scored, k)


# ---------------------------------------------------------------------------
# SemDeDup: semantic deduplication over embedding clusters
# ---------------------------------------------------------------------------

def semantic_dedup(
    emb: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): drop documents whose
    EMBEDDINGS are near-identical, keeping one representative per
    semantic duplicate group.

    The paper's recipe, Spark-first:
      1. k-means partition of the embedding space — here the passed
         ``centroids`` via :func:`assign_ivf_lists`'s argmin expression
         (the O(C·dim) model is a literal; the corpus never moves);
         pairwise work is INTRA-CLUSTER ONLY, the approximation that
         makes the method linear-ish instead of quadratic;
      2. within-cluster cosine pairs ≥ ``threshold`` (block-local
         self-join — bounded per cluster the same way the LSH bucket
         joins are);
      3. connected components over the pair graph
         (:func:`..operators.dedup.duplicate_clusters`, one Arrow
         task that holds every pair);
      4. keep the member FARTHEST from its cluster centroid (the
         paper's finding: keeping low-centroid-similarity examples
         preserves diversity best), tie-broken by min id; drop the
         rest via a broadcast anti-join.

    The centroid-distance array is evaluated ONCE in an inner
    projection serving both list assignment and the keep ranking (HOF
    lambdas sit outside Catalyst CSE).  Returns the kept rows of
    ``emb`` with their original columns.  Reference analog: the
    semantic comparator's embedding-similarity step
    (``idp_common/evaluation/comparator.py:422-492``) repurposed from
    pairwise evaluation to corpus-level curation."""
    from .dedup import duplicate_clusters, embedding_near_dup

    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("_v"),
                    F.array(*[F.lit(x) for x in c]),
                    lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in centroids
        ]
    )
    assigned = (
        emb.select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
        )
        .select("_id", "_v", dists.alias("_dists"))
        .select(
            "_id",
            "_v",
            (F.array_position(F.col("_dists"), F.array_min(F.col("_dists"))) - 1)
            .cast("int")
            .alias("_list"),
            F.array_min(F.col("_dists")).alias("_d2"),
        )
    )
    pairs = embedding_near_dup(
        assigned.select(
            F.col("_id").alias("vec_id"),
            F.col("_v").alias("embedding"),
            "_list",
        ),
        id_col="vec_id",
        vec_col="embedding",
        block_col="_list",
        threshold=threshold,
    ).select("id_a", "id_b")
    clusters = duplicate_clusters(pairs)
    ranked = (
        clusters.join(
            assigned.select(F.col("_id").alias("id"), "_d2"), "id"
        )
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy(
                    F.desc("_d2"), F.asc("id")
                )
            ),
        )
        .where(F.col("_rk") > 1)
        .select("id")
    )
    losers = F.broadcast(ranked.withColumnRenamed("id", id_col))
    return emb.join(losers, id_col, "left_anti")
