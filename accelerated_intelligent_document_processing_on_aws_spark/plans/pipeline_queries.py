"""Pipeline query entries — the transcript extraction engine itself.

These exercise the kernel (pandas-UDF HTML/layout extraction),
window segmentation, lineage, alerts, and the non-SQL dedup/ANN paths.
They are NOT ANSI-SQL-expressible (custom kernel / engine-hash
operators), so they carry no DuckDB oracle: the driver records a
rows-only check, and the real correctness gate for the kernel is the
pytest byte-equality suite against the pure-Python oracle
(tests/test_pipeline_spark.py).

Each callable synthesizes its deterministic transcript input via the
seeded generator — sf_dir scales the conversation count so the check
grows with the driver's chosen scale factor.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..fixtures.transcripts import generate_transcripts
from ..operators import dedup, segmentation as seg, similarity
from ..operators.extract import alerts, extract_turns
from ..sources.tables import load_table as _t

ENTRIES: dict = {}


def q(name: str):
    def deco(fn):
        ENTRIES[name] = (fn, None)
        return fn

    return deco


def _convs_for(sf_dir: str) -> int:
    if "0.1" in sf_dir and "0.01" not in sf_dir and "0.001" not in sf_dir:
        return 800
    if "0.01" in sf_dir:
        return 300
    return 100


def _transcripts(spark, sf_dir: str):
    rows = generate_transcripts(_convs_for(sf_dir), seed=42)
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp",
    )


@q("pipeline_extract_turns")
def pipeline_extract_turns(spark, sf_dir):
    out = extract_turns(_transcripts(spark, sf_dir), salt=8)
    return out.select(
        "conv_id", "turn_idx", "payload_kind", "classification", "boundary",
        "confidence", F.length("extracted_text").alias("text_len"),
        F.size("spans").alias("n_spans"),
    )


def _stringify_sections(sections_df):
    """Driver-canonicalizable projection of the sections table: the
    driver's pandas canonicalizer sorts every column, and a raw
    array<int> column is unhashable there — join it to a CSV string.
    Library users keep the array-typed :func:`seg.sections` API."""
    return sections_df.select(
        "conv_id",
        "section_id",
        "classification",
        F.array_join(
            F.transform("turn_idxs", lambda x: x.cast("string")), ","
        ).alias("turn_idxs"),
        "n_turns",
        "confidence",
    )


@q("pipeline_sections_bio")
def pipeline_sections_bio(spark, sf_dir):
    ext = extract_turns(_transcripts(spark, sf_dir), salt=8)
    return _stringify_sections(seg.sections(ext, "llm_determined"))


@q("pipeline_sections_majority")
def pipeline_sections_majority(spark, sf_dir):
    ext = extract_turns(_transcripts(spark, sf_dir), salt=8)
    return _stringify_sections(seg.sections(ext, "disabled"))


@q("pipeline_lineage")
def pipeline_lineage(spark, sf_dir):
    # num_partitions pinned so the lineage row count is stable across
    # driver parallelism choices (defaultParallelism varies by box)
    ext = extract_turns(_transcripts(spark, sf_dir), salt=8, num_partitions=32)
    # projected straight on the kernel's output, so the partition id is
    # the kernel task's
    return (
        ext.select(F.spark_partition_id().alias("partition_id"), "extracted_text")
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("rows_in"),
            F.count("extracted_text").alias("rows_out"),
        )
    )


@q("pipeline_confidence_alerts")
def pipeline_confidence_alerts(spark, sf_dir):
    ext = extract_turns(_transcripts(spark, sf_dir), salt=8)
    return alerts(ext, threshold=0.9)


@q("pipeline_section_text")
def pipeline_section_text(spark, sf_dir):
    ext = extract_turns(_transcripts(spark, sf_dir), salt=8)
    tagged = seg.tag_sections_bio(ext)
    return seg.section_text(tagged)


@q("minhash_lsh_near_dup")
def minhash_lsh_near_dup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        d, shingle_n=2, num_hashes=32, bands=8, jaccard_threshold=0.3
    )


@q("simhash_near_dup")
def simhash_near_dup(spark, sf_dir):
    # max_hamming=7 → 8 disjoint 8-bit chunks: full pigeonhole recall at
    # this threshold (round 1 asked for 16 with only 4 chunks, silently
    # missing hamming-4..16 pairs that shared no 16-bit chunk)
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 0)
    return dedup.simhash_pairs(d, max_hamming=7)


@q("ann_lsh_topk")
def ann_lsh_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    qs = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # n_tables=16/bits=4: the BENCH/ANN_CURVES.md documented >=0.9-recall
    # setting (0.931 at sf0.1 on the hardest — structureless — regime)
    return similarity.lsh_topk(e, qs, k=5, dim=64, bits=4, n_tables=16)


@q("ann_ivf_topk")
def ann_ivf_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    qs = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = similarity.train_centroids(e, n_centroids=8, sample_fraction=1.0)
    # nprobe=6/8: the structureless fixture needs ~75% of lists probed
    # for >=0.9 recall (BENCH/ANN_CURVES.md — clustered corpora need far
    # fewer; the plan shape, not this knob, is what scales)
    return similarity.ivf_topk(e, qs, cents, k=5, nprobe=6)


@q("ann_ivf_prebuilt_topk")
def ann_ivf_prebuilt_topk(spark, sf_dir):
    """The AMORTIZED IVF serving shape — the one the 10^12-vector story
    depends on: ``assign_ivf_lists`` builds the inverted index once (in
    production it persists as a ``list_id``-partitioned table, stamped
    with ``ivf_n_lists`` metadata), then ``ivf_topk(prebuilt=True)``
    validates the stamp and pays only the probe-side cost per query
    batch.  Measured 9.4× over the exact scan at 200k vectors / 128
    queries (BENCH/ANN_CURVES.md crossover table).  Same centroids and
    knobs as ``ann_ivf_topk`` so the two registry entries are
    row-identical — pinned by
    tests/test_corpus_ops.py::test_registry_ivf_prebuilt_equals_inline.
    Rows-only like its ANN siblings: centroid training is
    data-derived."""
    e = _t(spark, sf_dir, "embeddings")
    qs = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = similarity.train_centroids(e, n_centroids=8, sample_fraction=1.0)
    index = similarity.assign_ivf_lists(e, cents)
    return similarity.ivf_topk(index, qs, cents, k=5, nprobe=6, prebuilt=True)


@q("ann_pq_rerank_topk")
def ann_pq_rerank_topk(spark, sf_dir):
    """PQ shortlist + exact rerank (rows-only: codebook training is
    data-derived; recall vs brute force is gated in pytest)."""
    e = _t(spark, sf_dir, "embeddings")
    qs = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    books = similarity.train_pq_codebooks(e, n_subspaces=8, n_codes=16, iters=2)
    return similarity.pq_topk_rerank(e, qs, books, k=5, shortlist=64)


@q("pipeline_evaluation_report")
def pipeline_evaluation_report(spark, sf_dir):
    """Self-evaluation: distributed extraction vs the pure-Python golden
    oracle, scored through the comparator cascade.  A fully healthy
    engine reports precision = recall = 1.0 for every conversation —
    making this the strongest rows-only determinism check."""
    from ..kernel.oracle import extract_turn
    from ..operators.evaluation import evaluate_extraction

    # golden construction runs the pure-Python oracle on the DRIVER — cap
    # the conversation count explicitly so the self-check stays a bounded
    # fixture-scale job at any sf (the distributed path has no such cap)
    rows = generate_transcripts(min(_convs_for(sf_dir) // 2, 150), seed=42)
    pred = extract_turns(
        spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        ),
        salt=8,
    )
    golden = [
        {
            "conv_id": r["conv_id"],
            "turn_idx": r["turn_idx"],
            **{
                k: v
                for k, v in extract_turn(r["text"], r["role"], r["tool"]).items()
                if k in ("extracted_text", "classification", "confidence")
            },
        }
        for r in rows
    ]
    gold = spark.createDataFrame(
        golden,
        "conv_id string, turn_idx int, extracted_text string, classification string, confidence double",
    )
    return evaluate_extraction(pred, gold)["by_conversation"]


@q("semantic_dedup_keep")
def semantic_dedup_keep(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over the embeddings table with
    DETERMINISTICALLY PLANTED semantic duplicates: every vec_id % 7
    == 0 vector gets a copy (id + 1_000_000) scaled by 1.000001 —
    scaling preserves cosine (= 1.0 ≥ the 0.999 threshold) while the
    structureless fixture's natural max cosine is 0.513, so the
    planted pairs are EXACTLY the duplicate groups.  semantic_dedup
    must drop precisely one member of each pair (the
    farther-from-centroid one, min-id tie-break) and keep everything
    else.  Rows-only like its ANN siblings (centroid training is
    data-derived float arithmetic); the count/one-per-pair property
    is pinned by tests/test_semantic_dedup.py."""
    e = _t(spark, sf_dir, "embeddings")
    copies = e.where(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: (x * F.lit(1.000001)).cast("float")
        ).alias("embedding"),
        F.col("label"),
    )
    corpus = e.unionByName(copies)
    cents = similarity.train_centroids(e, n_centroids=8, sample_fraction=1.0)
    kept = similarity.semantic_dedup(corpus, cents, threshold=0.999)
    return kept.select("vec_id", "label")
