"""``duplicate_clusters``: connected components as one lazy
``mapInArrow`` stage, checked against a union-find reference."""

import random

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.errors import PythonException

from accelerated_intelligent_document_processing_on_aws_spark.operators import dedup


def union_find_clusters(pairs):
    """Reference: {id: min id of its component}; a null endpoint is its
    own node and joins no edge."""
    parent = {}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {x: None if x is None else find(x) for x in parent}


def clusters_of(spark, pairs, schema):
    df = spark.createDataFrame(pairs, schema)
    rows = dedup.duplicate_clusters(df).collect()
    got = {r["id"]: r["cluster_id"] for r in rows}
    assert len(got) == len(rows), "every distinct endpoint appears once"
    return got


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(-40, 40)),
            st.one_of(st.none(), st.integers(-40, 40)),
        ),
        min_size=1,
        max_size=60,
    ),
    st.booleans(),
)
def test_kernel_matches_union_find(pairs, as_strings):
    if as_strings:
        pairs = [
            tuple(None if x is None else f"c{x % 7}#{x}" for x in p) for p in pairs
        ]
    typ = pa.string() if as_strings else pa.int64()
    ids, cluster = dedup._min_label_components(
        pa.array([a for a, _ in pairs], typ), pa.array([b for _, b in pairs], typ)
    )
    assert ids.to_pylist() == sorted(ids.to_pylist(), key=lambda x: (x is None, x))
    assert dict(zip(ids.to_pylist(), cluster.to_pylist())) == union_find_clusters(pairs)


def test_permuted_path(spark):
    """A 1,200-node path whose ids do not increase along it: one
    component whose label is its minimum, whatever the diameter."""
    ids = random.Random(5).sample(range(1200), 1200)
    pairs = list(zip(ids, ids[1:]))
    assert clusters_of(spark, pairs, "id_a long, id_b long") == {i: 0 for i in ids}


def test_string_ids(spark):
    """String ids order bytewise, as Spark orders them."""
    pairs = [
        ("c2#1", "c1#7"), ("c1#7", "c10#0"), ("zz#1", "é#2"),
        ("b#9", "b#9"), ("c3#3", "zz#1"),
    ]
    got = clusters_of(spark, pairs, "id_a string, id_b string")
    assert got == union_find_clusters(pairs)
    assert got["é#2"] == "c3#3"


def test_random_graphs_match_union_find(spark):
    rng = random.Random(11)
    pairs = [(rng.randrange(300), rng.randrange(300)) for _ in range(250)]
    assert clusters_of(spark, pairs, "id_a int, id_b int") == union_find_clusters(pairs)


def test_null_endpoints_and_self_pairs(spark):
    pairs = [(1, 2), (2, None), (None, 5), (7, 7)]
    assert clusters_of(spark, pairs, "id_a long, id_b long") == {
        1: 1, 2: 1, 5: 5, 7: 7, None: None,
    }


def test_mixed_id_types_widen(spark):
    df = spark.createDataFrame([(1, 3), (3, 2)], "id_a int, id_b long")
    out = dedup.duplicate_clusters(df)
    assert [f.dataType.simpleString() for f in out.schema] == ["bigint", "bigint"]
    assert {r["id"]: r["cluster_id"] for r in out.collect()} == {1: 1, 2: 1, 3: 1}


def test_building_starts_no_job(spark):
    docs = spark.createDataFrame(
        [(i, "s", f"the same words here {i % 3}") for i in range(12)],
        "doc_id long, source string, text string",
    )
    pairs = dedup.ngram_jaccard_pairs(docs, "source", n=2, threshold=0.5)
    sc = spark.sparkContext
    group = "duplicate-clusters-plan-time"
    sc.setJobGroup(group, "duplicate_clusters at plan time")
    try:
        dedup.duplicate_clusters(pairs)
        dedup.dedup_keep_canonical(docs, pairs)
        dedup.dedup_keep_representative(docs, pairs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_size_cap_raises(spark, monkeypatch):
    monkeypatch.setattr(dedup, "MAX_CLUSTER_PAIRS", 3)
    df = spark.createDataFrame([(i, i + 1) for i in range(4)], "id_a long, id_b long")
    with pytest.raises(PythonException, match="MAX_CLUSTER_PAIRS=3"):
        dedup.duplicate_clusters(df).collect()


@pytest.mark.parametrize("score_col", [None, "s"])
def test_keep_representative_computes_clusters_once(spark, score_col):
    """Scoring and ranking both read the cluster ids through one join, so
    the plan holds one clustering stage, not one per reference."""
    docs = spark.createDataFrame(
        [(1, "a b c", 0.5), (2, "a b c d", 0.7), (3, "x y", 0.1)],
        "doc_id long, text string, s double",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    kept = dedup.dedup_keep_representative(docs, pairs, score_col=score_col)
    plan = kept._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("MapInArrow") == 1
    got = {r["doc_id"] for r in kept.collect()}
    assert 3 in got and len(got & {1, 2}) == 1
