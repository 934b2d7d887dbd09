"""Dedup / similarity / text-analysis / multimodal operator tests."""

import pytest
from pyspark.sql import functions as F

from accelerated_intelligent_document_processing_on_aws_spark.operators import (
    dedup,
    multimodal,
    similarity,
    textstats,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    yield df
    df.unpersist()


class TestDedup:
    def test_exact_dedup_with_planted_dups(self, spark):
        df = spark.createDataFrame(
            [(1, "same text"), (2, "same text"), (3, "other text")],
            "doc_id long, text string",
        )
        groups = dedup.exact_duplicates(df)
        dup = groups.where(F.col("n_docs") > 1).collect()
        assert len(dup) == 1 and dup[0]["keep_id"] == 1
        kept = dedup.dedup_exact(df).select("doc_id").collect()
        assert sorted(r["doc_id"] for r in kept) == [1, 3]

    def test_minhash_finds_planted_near_dup(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again " * 5
        near = base.replace("lazy", "sleepy")
        far = "completely different content about spark shuffle partitions " * 5
        df = spark.createDataFrame(
            [(1, base), (2, near), (3, far)], "doc_id long, text string"
        )
        pairs = dedup.minhash_lsh_pairs(
            df, shingle_n=3, num_hashes=32, bands=8, jaccard_threshold=0.4
        ).collect()
        assert {(p["id_a"], p["id_b"]) for p in pairs} == {(1, 2)}
        assert pairs[0]["jaccard"] > 0.4

    def test_minhash_jaccard_is_exact_on_candidates(self, spark):
        a = "w1 w2 w3 w4 w5 w6"
        b = "w1 w2 w3 w4 w5 zz"
        df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
        pairs = dedup.minhash_lsh_pairs(
            df, shingle_n=2, num_hashes=32, bands=16, jaccard_threshold=0.1
        ).collect()
        if pairs:  # LSH may or may not band-collide; if it does, jaccard is exact
            # shingles: a has 5 bigrams, b has 5, intersect 4, union 6
            assert pairs[0]["jaccard"] == pytest.approx(4 / 6, abs=1e-6)

    def test_simhash_identical_and_near(self, spark):
        words = [f"tok{i}" for i in range(40)]
        t = " ".join(words)
        df = spark.createDataFrame(
            [(1, t), (2, t), (3, t.replace("tok7", "zzz"))],
            "doc_id long, text string",
        )
        pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
                 dedup.simhash_pairs(df, max_hamming=24).collect()}
        assert pairs.get((1, 2)) == 0
        assert (1, 3) in pairs and 0 < pairs[(1, 3)] <= 24

    def test_ngram_jaccard_pairs(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d", "g1"), (2, "a b c e", "g1"), (3, "x y z w", "g2")],
            "doc_id long, text string, source string",
        )
        got = dedup.ngram_jaccard_pairs(df, "source", n=2, threshold=0.0).collect()
        assert len(got) == 1
        # bigrams: {a b, b c, c d} vs {a b, b c, c e}: 2/4
        assert got[0]["jaccard"] == pytest.approx(0.5)

    def test_embedding_near_dup(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.99, 0.01]), (3, [0.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        got = dedup.embedding_near_dup(df, threshold=0.95).collect()
        assert {(r["id_a"], r["id_b"]) for r in got} == {(1, 2)}


class TestSimilarity:
    def test_brute_force_self_is_top1(self, emb):
        q = emb.limit(3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        top = similarity.brute_force_topk(emb, q, k=3)
        top1 = {r["query_id"]: r["vec_id"] for r in top.where(F.col("rank") == 1).collect()}
        for qid, vid in top1.items():
            assert qid == vid  # self-similarity = 1.0

    def test_lsh_recall_reasonable(self, emb):
        q = emb.limit(8).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        exact = similarity.brute_force_topk(emb, q, k=5)
        approx = similarity.lsh_topk(emb, q, k=5, dim=64, bits=3, n_tables=6)
        assert similarity.recall_at_k(approx, exact, 5) >= 0.5

    def test_documented_high_recall_settings(self, emb):
        """Pin the BENCH/ANN_CURVES.md documented recall>=0.9 settings
        (measured at sf0.1) at >=0.85 on the sf0.001 fixture — a
        regression in any leg's math goes red here."""
        q = emb.limit(8).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        exact = similarity.brute_force_topk(emb, q, k=5)
        lsh = similarity.lsh_topk(emb, q, k=5, dim=64, bits=4, n_tables=16)
        assert similarity.recall_at_k(lsh, exact, 5) >= 0.85
        cents = similarity.train_centroids(emb, n_centroids=8, sample_fraction=1.0)
        ivf = similarity.ivf_topk(emb, q, cents, k=5, nprobe=6)
        assert similarity.recall_at_k(ivf, exact, 5) >= 0.85
        books = similarity.train_pq_codebooks(emb, n_subspaces=8, n_codes=16, iters=2)
        pq = similarity.pq_topk_rerank(emb, q, books, k=5, shortlist=100)
        assert similarity.recall_at_k(pq, exact, 5) >= 0.85

    def test_structured_regime_recall_gates(self, spark):
        """IVF/PQ in the CLUSTERED regime they are built for (round-5
        verdict stretch item): on the deterministic mixture-of-Gaussians
        fixture, few probes / a thin shortlist must already reach high
        recall — the inverse of the unstructured fixture, where the same
        knob fractions sit near chance.  BENCH/ANN_CURVES.md second
        table documents the 2000-vector sweep (IVF 0.925 @ nprobe=8/32
        = 25% of lists vs 0.662 unstructured); this pins the behavior
        at test size (800 vecs, C=16): probing 25% of lists ≥ 0.85,
        12.5% ≥ 0.75, PQ rerank at a 10%-corpus shortlist ≥ 0.8."""
        from accelerated_intelligent_document_processing_on_aws_spark.fixtures.embeddings import (
            clustered_embeddings_df,
        )

        emb = (
            clustered_embeddings_df(spark, n_vecs=800, dim=64, n_clusters=16)
            .select("vec_id", "embedding")
            .cache()
        )
        q = emb.limit(8).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        exact = similarity.brute_force_topk(emb, q, k=5)
        cents = similarity.train_centroids(emb, n_centroids=16, sample_fraction=1.0)
        assert similarity.recall_at_k(
            similarity.ivf_topk(emb, q, cents, k=5, nprobe=4), exact, 5
        ) >= 0.85
        assert similarity.recall_at_k(
            similarity.ivf_topk(emb, q, cents, k=5, nprobe=2), exact, 5
        ) >= 0.75
        books = similarity.train_pq_codebooks(
            emb, n_subspaces=8, n_codes=16, iters=2
        )
        assert similarity.recall_at_k(
            similarity.pq_topk_rerank(emb, q, books, k=5, shortlist=80), exact, 5
        ) >= 0.8
        emb.unpersist()

    def test_ivf_prebuilt_index_equals_inline(self, emb):
        """assign_ivf_lists + ivf_topk (the amortized serving shape: the
        index persisted once, queries pay only probe cost) must return
        exactly the inline-assignment result — same lists, same rerank,
        same rows."""
        q = emb.limit(5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        cents = similarity.train_centroids(emb, n_centroids=8, sample_fraction=1.0)
        inline = similarity.ivf_topk(emb, q, cents, k=5, nprobe=3)
        index = similarity.assign_ivf_lists(emb, cents)
        prebuilt = similarity.ivf_topk(index, q, cents, k=5, nprobe=3, prebuilt=True)
        a = {tuple(r) for r in inline.collect()}
        b = {tuple(r) for r in prebuilt.collect()}
        assert a == b and a

    def test_ivf_prebuilt_index_validated(self, emb):
        """prebuilt reuse is explicit and stamped: an unrelated list_id
        column (no ivf_n_lists metadata) and a stale index built from a
        different centroid model are both rejected; without prebuilt=True
        a stray list_id column is ignored, not silently trusted."""
        import pytest

        q = emb.limit(3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        cents8 = similarity.train_centroids(emb, n_centroids=8, sample_fraction=1.0)
        cents4 = similarity.train_centroids(emb, n_centroids=4, sample_fraction=1.0)
        # unrelated list_id column: rejected under prebuilt, ignored without
        stray = emb.withColumn("list_id", F.col("vec_id") % 3)
        with pytest.raises(ValueError, match="ivf_n_lists"):
            similarity.ivf_topk(stray, q, cents8, k=5, nprobe=3, prebuilt=True)
        inline = similarity.ivf_topk(emb, q, cents8, k=5, nprobe=3)
        ignored = similarity.ivf_topk(stray, q, cents8, k=5, nprobe=3)
        assert {tuple(r) for r in inline.collect()} == {
            tuple(r) for r in ignored.collect()
        }
        # stale index: built on 4 centroids, served with 8 → rejected
        stale = similarity.assign_ivf_lists(emb, cents4)
        with pytest.raises(ValueError, match="rebuild the index"):
            similarity.ivf_topk(stale, q, cents8, k=5, nprobe=3, prebuilt=True)
        # missing list_id under prebuilt → rejected
        with pytest.raises(ValueError, match="requires a list_id"):
            similarity.ivf_topk(emb, q, cents8, k=5, nprobe=3, prebuilt=True)

    def test_registry_ivf_prebuilt_equals_inline(self, spark):
        """The REGISTRY prebuilt-IVF serving query (the driver-visible
        amortized shape) must be row-identical to the registry inline
        query — same centroids, same knobs, index built via
        assign_ivf_lists and served through the validated
        prebuilt=True path."""
        from accelerated_intelligent_document_processing_on_aws_spark.plans import registry

        sf = "/root/testdata/sf0.001"
        inline = registry.QUERIES["ann_ivf_topk"](spark, sf)
        prebuilt = registry.QUERIES["ann_ivf_prebuilt_topk"](spark, sf)
        a = {tuple(r) for r in inline.collect()}
        b = {tuple(r) for r in prebuilt.collect()}
        assert a == b and a

    def test_ivf_recall_and_shape(self, emb):
        q = emb.limit(5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        cents = similarity.train_centroids(emb, n_centroids=8, sample_fraction=1.0)
        assert len(cents) == 8 and len(cents[0]) == 64
        exact = similarity.brute_force_topk(emb, q, k=5)
        approx = similarity.ivf_topk(emb, q, cents, k=5, nprobe=4)
        assert similarity.recall_at_k(approx, exact, 5) >= 0.5


class TestTextStats:
    def test_token_counts(self, spark):
        df = spark.createDataFrame([(1, "Hello, world! 42 times")], "doc_id long, text string")
        r = df.select(
            textstats.ws_token_count("text").alias("ws"),
            textstats.bpe_ish_token_count("text").alias("bpe"),
        ).collect()[0]
        assert r["ws"] == 4
        # Hello , world ! 42 times → 6
        assert r["bpe"] == 6

    def test_lang_id_markers(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the cat and the dog of the house"),
                (2, "der hund und die katze nicht hier"),
                (3, "le chat et les chiens"),
                (4, "xyzzy plugh"),
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r["l"] for r in df.select("doc_id", textstats.lang_id("text").alias("l")).collect()}
        assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}

    def test_quality_scores_bounded(self, docs):
        q = textstats.quality_features(docs)
        r = q.agg(F.min("quality_score").alias("lo"), F.max("quality_score").alias("hi")).collect()[0]
        assert 0.0 <= r["lo"] <= r["hi"] <= 1.0

    def test_fingerprint_normalization(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello   World"), (2, "hello world"), (3, "different")],
            "doc_id long, text string",
        )
        fps = [r["f"] for r in df.select(textstats.fingerprint_md5("text").alias("f")).collect()]
        assert fps[0] == fps[1] != fps[2]

    def test_kgram_fingerprint_stability(self, spark):
        base = "a long enough document body that has many k grams inside it"
        df = spark.createDataFrame([(1, base), (2, base)], "doc_id long, text string")
        fps = [r["f"] for r in df.select(textstats.kgram_min_fingerprint("text").alias("f")).collect()]
        assert fps[0] == fps[1]


class TestMultimodal:
    def test_feature_extraction_plumbing(self, spark):
        media = multimodal.synth_media(spark, n=30)
        feats = multimodal.extract_features(media, dim=8)
        rows = feats.collect()
        assert len(rows) == 30
        for r in rows:
            assert len(r["feature"]) == 8
            assert all(0.0 <= x < 1.0 for x in r["feature"])
            assert r["n_bytes"] > 0 and len(r["sha1"]) == 40

    def test_feature_determinism_across_partitioning(self, spark):
        media = multimodal.synth_media(spark, n=30)
        a = {r["media_id"]: r["sha1"] for r in multimodal.extract_features(media.repartition(7)).collect()}
        b = {r["media_id"]: r["sha1"] for r in multimodal.extract_features(media.coalesce(1)).collect()}
        assert a == b

    def test_decode_stub_raises(self):
        with pytest.raises(NotImplementedError):
            multimodal.decode_image(b"xx")

    def test_frame_sample_plan(self, spark):
        media = multimodal.synth_media(spark, n=30)
        plan = multimodal.frame_sample_plan(media, every_ms=1000)
        joined = plan.groupBy("media_id").count().join(
            media.select("media_id", "duration_ms"), "media_id"
        )
        for r in joined.collect():
            assert r["count"] == (r["duration_ms"] - 1) // 1000 + 1


class TestMinhashRecall:
    def test_high_jaccard_pairs_all_recovered(self, spark):
        """Quantified recall: every pair with TRUE Jaccard >= 0.8 in the
        fixture subset must be produced by the LSH path (at j=0.8 the
        per-pair collision probability with 32 hashes / 8 bands is
        1-(1-0.8^4)^8 ~ 0.985, and the pipeline is deterministic given
        the corpus, so this is a hard assertion, not a flaky bound)."""
        docs = spark.read.parquet(f"{SF}/documents.parquet").where(
            F.col("doc_id") % 3 == 0
        )
        # brute-force truth: block-free all-pairs jaccard on 2-gram shingles
        t = docs.select(
            F.col("doc_id").alias("id"),
            dedup.shingles(dedup.tokens("text"), 2).alias("sh"),
        )
        truth = {
            (r["id_a"], r["id_b"])
            for r in (
                t.alias("l")
                .join(t.alias("r"), F.col("l.id") < F.col("r.id"))
                .select(
                    F.col("l.id").alias("id_a"),
                    F.col("r.id").alias("id_b"),
                    (
                        F.size(F.array_intersect("l.sh", "r.sh"))
                        / F.size(F.array_union("l.sh", "r.sh"))
                    ).alias("j"),
                )
                .where(F.col("j") >= 0.8)
                .collect()
            )
        }
        got = {
            (r["id_a"], r["id_b"])
            for r in dedup.minhash_lsh_pairs(
                docs, shingle_n=2, num_hashes=32, bands=8, jaccard_threshold=0.8
            ).collect()
        }
        assert truth, "fixture must contain at least one high-jaccard pair"
        assert truth <= got or truth == got  # full recall at j>=0.8
        # and no false positives below the threshold (verify step is exact)
        assert got <= truth


class TestDuplicateClusters:
    def test_keep_representative_by_quality(self, spark):
        """Cluster {1,2,3}: doc 3 has the best quality (long clean
        prose), docs 1/2 are punctuation soup — the keeper must be 3,
        not min-id 1; singleton doc 9 passes through.  With a constant
        score column the rule degenerates to keep-canonical (min id)."""
        docs = spark.createDataFrame(
            [
                (1, "!!! ??? ;;; ### $$$ %%% @@@ &&& *** ((( )))"),
                (2, "??? !!! ;;; ### $$$ %%% @@@ &&& *** ((( )))"),
                (3, "the quick brown fox jumps over the lazy dog and "
                    "keeps running through the quiet field all day"),
                (9, "an unrelated singleton document with its own text"),
            ],
            "doc_id long, text string",
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3)], "id_a long, id_b long"
        )
        kept = {
            r["doc_id"]
            for r in dedup.dedup_keep_representative(docs, pairs).collect()
        }
        assert kept == {3, 9}
        const = docs.withColumn("s", F.lit(1.0))
        kept2 = {
            r["doc_id"]
            for r in dedup.dedup_keep_representative(
                const, pairs, score_col="s"
            ).collect()
        }
        assert kept2 == {1, 9}  # min id on ties == keep-canonical

    def test_keep_representative_string_ids(self, spark):
        """Type-agnostic tie-break: string/UUID-style ids must work (a
        negated-id tie-break would silently NULL out and no-op)."""
        docs = spark.createDataFrame(
            [
                ("u-a", "!!! ??? ;;; ### $$$ %%% @@@ &&& *** ((("),
                ("u-b", "the quick brown fox jumps over the lazy dog and "
                        "keeps running through the quiet field all day"),
                ("u-z", "a singleton document standing alone here"),
            ],
            "doc_id string, text string",
        )
        pairs = spark.createDataFrame(
            [("u-a", "u-b")], "id_a string, id_b string"
        )
        kept = {
            r["doc_id"]
            for r in dedup.dedup_keep_representative(docs, pairs).collect()
        }
        assert kept == {"u-b", "u-z"}

    def test_keep_representative_duplicate_id_rows(self, spark):
        """Messy input: the winning id appears TWICE in docs.  Ranking
        must not mark the winner's second copy as a loser (which would
        anti-join away every copy of the best document)."""
        docs = spark.createDataFrame(
            [
                (1, "!!! ??? ;;; ### $$$ %%% @@@ &&& *** ((("),
                (2, "the quick brown fox jumps over the lazy dog and "
                    "keeps running through the quiet field all day"),
                (2, "the quick brown fox jumps over the lazy dog and "
                    "keeps running through the quiet field all day"),
            ],
            "doc_id long, text string",
        )
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        kept = dedup.dedup_keep_representative(docs, pairs).collect()
        assert {r["doc_id"] for r in kept} == {2}
        assert len(kept) == 2  # both copies of the winner survive

    def test_transitive_chain_collapses(self, spark):
        """A~B, B~C, D~E with no A~C pair: components {A,B,C} and {D,E},
        canonical = min id; F untouched by keep-canonical."""
        pairs = spark.createDataFrame(
            [(2, 3), (1, 2), (4, 5)], "id_a long, id_b long"
        )
        got = {r["id"]: r["cluster_id"] for r in dedup.duplicate_clusters(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}

        docs = spark.createDataFrame(
            [(i, f"doc {i}") for i in (1, 2, 3, 4, 5, 6)], "doc_id long, text string"
        )
        kept = sorted(
            r["doc_id"] for r in dedup.dedup_keep_canonical(docs, pairs).collect()
        )
        assert kept == [1, 4, 6]  # cluster canonicals + the singleton

    def test_long_chain_converges(self, spark):
        """A path graph needs O(diameter) rounds — make sure propagation
        actually iterates to a fixpoint, not just one hop."""
        n = 12
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a long, id_b long"
        )
        got = {r["id"]: r["cluster_id"] for r in dedup.duplicate_clusters(pairs).collect()}
        assert got == {i: 0 for i in range(n + 1)}

    def test_deep_chain_pointer_jumping(self, spark):
        """Round-6 scale-drill regression: the 2.6M-turn corpus held a
        near-dup chain >20 hops deep and plain O(diameter) propagation
        blew the default 20-round budget.  Pointer jumping (label-of-
        label per round) must collapse a 200-hop path within the same
        default budget — 200 > 2^7, impossible without the shortcut."""
        n = 200
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a long, id_b long"
        )
        got = {
            r["id"]: r["cluster_id"]
            for r in dedup.duplicate_clusters(pairs).collect()
        }
        assert got == {i: 0 for i in range(n + 1)}


class TestSamplingOps:
    def test_hash_split_deterministic_and_leak_free(self, spark):
        from accelerated_intelligent_document_processing_on_aws_spark.operators import (
            sampling,
        )

        df = spark.createDataFrame(
            [(i, f"conv{i % 20}") for i in range(400)], "id long, conv string"
        )
        out = sampling.hash_split(df, "conv", {"train": 0.8, "val": 0.1, "test": 0.1})
        # same key -> same split always (no leakage across a conversation)
        per_conv = out.groupBy("conv").agg(
            F.count_distinct("split").alias("n_splits")
        )
        assert per_conv.where(F.col("n_splits") > 1).count() == 0
        # rerun identical
        again = sampling.hash_split(df, "conv", {"train": 0.8, "val": 0.1, "test": 0.1})
        assert out.exceptAll(again).count() == 0

    def test_temperature_mix_upsamples_low_resource_groups(self, spark):
        from accelerated_intelligent_document_processing_on_aws_spark.operators import (
            sampling,
        )

        # 900 'en' docs vs 100 'yo' docs: at alpha=0.5 the rate ratio
        # yo/en is sqrt(900/100) = 3x.
        rows = [(i, "en") for i in range(900)] + [(i + 900, "yo") for i in range(100)]
        df = spark.createDataFrame(rows, "id long, lang string")
        out = sampling.temperature_mix_sample(
            df, "id", "lang", target_fraction=0.5, alpha=0.5
        )
        kept = {
            r["lang"]: r["n"]
            for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        frac_en, frac_yo = kept["en"] / 900, kept["yo"] / 100
        # exact rates: denom = 30+10 = 40; en 0.5*1000*30/40/900 = 0.4167,
        # yo 0.5*1000*10/40/100 = 1.25 -> capped at 1.0 (all kept)
        assert kept["yo"] == 100
        assert 0.30 < frac_en < 0.52  # hash-uniform noise band around 0.4167
        assert frac_yo > 2 * frac_en  # the rebalance actually happened
        # deterministic: rerun identical
        again = sampling.temperature_mix_sample(
            df, "id", "lang", target_fraction=0.5, alpha=0.5
        )
        assert out.exceptAll(again).count() == 0

    def test_pack_token_windows_monotone_and_bounded(self, spark):
        from accelerated_intelligent_document_processing_on_aws_spark.operators import (
            sampling,
        )

        df = spark.createDataFrame(
            [(i, 300) for i in range(10)], "id long, tokens int"
        )
        out = sampling.pack_token_windows(df, "id", "tokens", 1000).collect()
        wids = [r["window_id"] for r in sorted(out, key=lambda r: r["id"])]
        # 1000/300: windows of 4 docs each (doc starting under the
        # boundary joins the window its predecessors filled)
        assert wids == [0, 0, 0, 0, 1, 1, 1, 2, 2, 2]


class TestTemporalJoins:
    def test_asof_backward_inclusive_and_null(self, spark):
        from datetime import datetime

        from accelerated_intelligent_document_processing_on_aws_spark.operators.temporal import (
            asof_join,
        )

        def t(h):
            return datetime(2026, 1, 1, h)

        left = spark.createDataFrame(
            [("u", 1, t(5)), ("u", 2, t(10)), ("u", 3, t(1))],
            "user string, lid int, ts timestamp",
        )
        right = spark.createDataFrame(
            [("u", t(5), 50.0), ("u", t(8), 80.0)], "user string, ts timestamp, px double"
        )
        got = {
            r["lid"]: r["asof_px"]
            for r in asof_join(left, right, "ts", ["user"], ["px"]).collect()
        }
        assert got[1] == 50.0   # inclusive at equal ts
        assert got[2] == 80.0   # latest at-or-before
        assert got[3] is None   # nothing precedes

    def test_asof_forward(self, spark):
        from datetime import datetime

        from accelerated_intelligent_document_processing_on_aws_spark.operators.temporal import (
            asof_join,
        )

        left = spark.createDataFrame(
            [("u", 1, datetime(2026, 1, 1, 5))], "user string, lid int, ts timestamp"
        )
        right = spark.createDataFrame(
            [("u", datetime(2026, 1, 1, 7), 70.0), ("u", datetime(2026, 1, 1, 9), 90.0)],
            "user string, ts timestamp, px double",
        )
        got = asof_join(left, right, "ts", ["user"], ["px"], direction="forward").collect()
        assert got[0]["asof_px"] == 70.0  # earliest at-or-after

    def test_range_join_containment_inclusive(self, spark):
        from datetime import datetime

        from accelerated_intelligent_document_processing_on_aws_spark.operators.temporal import (
            range_join,
        )

        def t(h, m=0):
            return datetime(2026, 1, 1, h, m)

        ivals = spark.createDataFrame(
            [("u", 1, t(5), t(7))], "user string, iid int, s timestamp, e timestamp"
        )
        pts = spark.createDataFrame(
            [("u", 10, t(5)), ("u", 11, t(6, 30)), ("u", 12, t(7)), ("u", 13, t(7, 1)),
             ("v", 14, t(6))],
            "user string, pid int, ts timestamp",
        )
        got = sorted(
            r["pid"]
            for r in range_join(ivals, pts, ["user"], "s", "e", "ts", 3600).collect()
        )
        assert got == [10, 11, 12]  # inclusive both ends, key-scoped


class TestMinhashVerifyStrategies:
    def test_carry_and_rescan_paths_agree(self, spark):
        """The inline carry-shingles verify and the semi-join re-scan
        verify are the same operator with different shuffle trades —
        identical pairs AND identical exact-jaccard values."""
        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta eta theta"),
                (2, "alpha beta gamma delta epsilon zeta eta iota"),
                (3, "totally different words here about nothing else"),
                (4, "alpha beta gamma delta epsilon zeta eta theta"),
            ],
            "doc_id long, text string",
        )
        kw = dict(shingle_n=2, num_hashes=32, bands=16, jaccard_threshold=0.2)
        carry = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.minhash_lsh_pairs(docs, carry_shingles=True, **kw).collect()
        }
        rescan = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.minhash_lsh_pairs(docs, carry_shingles=False, **kw).collect()
        }
        assert carry == rescan
        assert (1, 4) in carry and carry[(1, 4)] == 1.0


class TestAsofChunked:
    """Skew-hardened two-pass as-of join: results must equal the
    one-pass form for any chunk size, both directions."""

    def _mk(self, spark, seed=7):
        import random
        from datetime import datetime, timezone

        rng = random.Random(seed)

        def ts(s):
            return datetime(2026, 1, 1, tzinfo=timezone.utc).replace(
                hour=s // 3600 % 24, minute=s // 60 % 60, second=s % 60
            )

        lrows = [
            (u, ts(rng.randrange(0, 40000)), i)
            for i, u in enumerate(["hot"] * 60 + ["a", "b"] * 10)
        ]
        rrows = []
        seen = set()
        for u in ("hot", "a", "b"):
            for _ in range(25 if u == "hot" else 4):
                s = rng.randrange(0, 40000)
                if (u, s) in seen:
                    continue
                seen.add((u, s))
                rrows.append((u, ts(s), float(s)))
        left = spark.createDataFrame(lrows, "user string, ts timestamp, row_id int")
        right = spark.createDataFrame(rrows, "user string, ts timestamp, px double")
        return left, right

    def test_chunked_equals_onepass_backward(self, spark):
        from accelerated_intelligent_document_processing_on_aws_spark.operators.temporal import (
            asof_join,
        )

        left, right = self._mk(spark)
        want = {
            r["row_id"]: r["asof_px"]
            for r in asof_join(left, right, "ts", ["user"], ["px"]).collect()
        }
        for chunk in (60, 600, 7200, 100000):
            got = {
                r["row_id"]: r["asof_px"]
                for r in asof_join(
                    left, right, "ts", ["user"], ["px"], chunk_seconds=chunk
                ).collect()
            }
            assert got == want, f"chunk_seconds={chunk}"

    def test_chunked_equals_onepass_forward(self, spark):
        from accelerated_intelligent_document_processing_on_aws_spark.operators.temporal import (
            asof_join,
        )

        left, right = self._mk(spark, seed=11)
        want = {
            r["row_id"]: r["asof_px"]
            for r in asof_join(
                left, right, "ts", ["user"], ["px"], direction="forward"
            ).collect()
        }
        got = {
            r["row_id"]: r["asof_px"]
            for r in asof_join(
                left, right, "ts", ["user"], ["px"],
                direction="forward", chunk_seconds=600,
            ).collect()
        }
        assert got == want


class TestSimhashOverflow:
    def test_overcap_bucket_pairs_survive_with_join_overflow(self, spark):
        """Every bucket goes through the salted self-join, whatever its
        size, so a degenerate bucket yields all its pairs (full
        pigeonhole recall)."""
        # 8 identical docs: every chunk bucket has size 8
        docs = spark.createDataFrame(
            [(i, "same exact tokens all the way down " * 3) for i in range(8)],
            "doc_id int, text string",
        )
        full = dedup.simhash_pairs(docs, max_hamming=3)
        assert full.count() == 8 * 7 // 2  # all pairs, hamming 0


class TestPackRanged:
    def test_ranged_equals_global_window(self, spark):
        """The two-pass range-partitioned packing must equal the global
        single-window form for any partition count."""
        from accelerated_intelligent_document_processing_on_aws_spark.operators.sampling import (
            pack_token_windows,
        )

        import random
        rng = random.Random(5)
        rows = [(i, rng.randint(1, 900)) for i in range(2000)]
        df = spark.createDataFrame(rows, "doc_id int, n_tokens int")
        want = {
            r["doc_id"]: r["window_id"]
            for r in pack_token_windows(df, "doc_id", "n_tokens", 4096).collect()
        }
        for n in (1, 7, 64):
            got = {
                r["doc_id"]: r["window_id"]
                for r in pack_token_windows(
                    df, "doc_id", "n_tokens", 4096, range_partitions=n
                ).collect()
            }
            assert got == want, f"range_partitions={n}"


class TestDuplicateIdInputs:
    def test_no_self_pairs_on_duplicate_ids(self, spark):
        """Dirty input with a repeated doc_id must not emit (x, x)
        self-pairs from any near-dup path."""
        docs = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta"),
             (1, "alpha beta gamma delta epsilon zeta"),   # same id twice
             (2, "alpha beta gamma delta epsilon zeta")],
            "doc_id long, text string",
        )
        mh = dedup.minhash_lsh_pairs(docs, shingle_n=2, num_hashes=32,
                                     bands=16, jaccard_threshold=0.2).collect()
        assert all(r["id_a"] != r["id_b"] for r in mh)
        assert {(r["id_a"], r["id_b"]) for r in mh} == {(1, 2)}
        sh = dedup.simhash_pairs(docs, max_hamming=3).collect()
        assert all(r["id_a"] != r["id_b"] for r in sh)


class TestRangeJoinGuards:
    def test_reversed_interval_yields_no_rows(self, spark):
        from datetime import datetime, timezone

        from accelerated_intelligent_document_processing_on_aws_spark.operators.temporal import (
            range_join,
        )

        def ts(h):
            return datetime(2026, 1, 1, h, 0, 0, tzinfo=timezone.utc)

        ivals = spark.createDataFrame(
            [("u", 1, ts(5), ts(2))], "user string, iid int, s timestamp, e timestamp"
        )
        pts = spark.createDataFrame(
            [("u", 10, ts(3))], "user string, pid int, ts timestamp"
        )
        got = range_join(ivals, pts, ["user"], "s", "e", "ts").collect()
        assert got == []

    def test_pathological_span_raises(self, spark):
        import pytest as _pt
        from datetime import datetime, timezone

        from accelerated_intelligent_document_processing_on_aws_spark.operators.temporal import (
            range_join,
        )

        ivals = spark.createDataFrame(
            [("u", 1,
              datetime(2000, 1, 1, tzinfo=timezone.utc),
              datetime(2026, 1, 1, tzinfo=timezone.utc))],
            "user string, iid int, s timestamp, e timestamp",
        )
        pts = spark.createDataFrame(
            [("u", 10, datetime(2010, 1, 1, tzinfo=timezone.utc))],
            "user string, pid int, ts timestamp",
        )
        with _pt.raises(Exception, match="spans too many grid buckets"):
            range_join(ivals, pts, ["user"], "s", "e", "ts",
                       bucket_seconds=3600).collect()


class TestAsofNullTimestamps:
    def test_null_ts_rows_explicit_semantics(self, spark):
        """Null-ts right rows never match; null-ts left rows pass
        through with a NULL match (DuckDB/pandas ASOF behavior)."""
        from datetime import datetime, timezone

        from accelerated_intelligent_document_processing_on_aws_spark.operators.temporal import (
            asof_join,
        )

        def ts(h):
            return datetime(2026, 1, 1, h, 0, 0, tzinfo=timezone.utc)

        left = spark.createDataFrame(
            [("u", ts(5), 1), ("u", None, 2)],
            "user string, ts timestamp, row_id int",
        )
        right = spark.createDataFrame(
            [("u", ts(4), 40.0), ("u", None, 999.0)],
            "user string, ts timestamp, px double",
        )
        for chunk in (None, 3600):
            got = {
                r["row_id"]: r["asof_px"]
                for r in asof_join(
                    left, right, "ts", ["user"], ["px"], chunk_seconds=chunk
                ).collect()
            }
            assert got == {1: 40.0, 2: None}, f"chunk={chunk}"


class TestDistributedCentroids:
    def test_distributed_kmeans_recall(self, spark):
        """Distributed Lloyd must produce centroids at least as useful
        as the sample-trained ones: IVF recall@5 over the fixture
        embeddings stays above the suite's 0.5 bar."""
        from pyspark.sql import functions as F

        from accelerated_intelligent_document_processing_on_aws_spark.operators import (
            similarity as sim,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cents = sim.train_centroids_distributed(emb, n_centroids=8, iters=2)
        assert len(cents) == 8 and len(cents[0]) == 64
        qs = emb.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        approx = sim.ivf_topk(emb, qs, cents, k=5, nprobe=3)
        exact = sim.brute_force_topk(emb, qs, k=5)
        assert sim.recall_at_k(approx, exact, 5) >= 0.5

    def test_deterministic(self, spark):
        from accelerated_intelligent_document_processing_on_aws_spark.operators import (
            similarity as sim,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        a = sim.train_centroids_distributed(emb, n_centroids=4, iters=1)
        b = sim.train_centroids_distributed(emb, n_centroids=4, iters=1)
        assert a == b


class TestInt8Quantization:
    def test_round_trip_error_bounded(self, spark):
        import numpy as np

        from accelerated_intelligent_document_processing_on_aws_spark.operators.similarity import (
            dequantize_int8,
            quantize_embeddings_int8,
        )
        from pyspark.sql import functions as F

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
        q = quantize_embeddings_int8(emb)
        rows = q.select(
            "embedding", "scale", "q8",
            dequantize_int8(F.col("q8"), F.col("scale")).alias("deq"),
        ).collect()
        for r in rows:
            orig = np.array(r["embedding"], dtype=np.float64)
            deq = np.array(r["deq"])
            assert np.all(np.abs(np.array(r["q8"], dtype=np.int64)) <= 127)
            # symmetric quantization error bound: half a step
            assert np.max(np.abs(orig - deq)) <= r["scale"] / 2 + 1e-12


class TestProductQuantization:
    def test_pq_roundtrip_and_recall(self, spark):
        """PQ codebooks train deterministically, encode to m small ints,
        reconstruction stays within the in-subspace quantization radius,
        and ADC top-k recall vs exact brute force clears the suite bar."""
        from pyspark.sql import functions as F

        from accelerated_intelligent_document_processing_on_aws_spark.operators import (
            similarity as sim,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        books = sim.train_pq_codebooks(emb, n_subspaces=8, n_codes=16, iters=3)
        assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8

        enc = sim.pq_encode(emb, books)
        row = enc.select("pq_code").first()
        assert len(row["pq_code"]) == 8
        assert all(0 <= c < 16 for c in row["pq_code"])

        # reconstruction error: every vector's distance to its
        # reconstruction must be <= its distance to ANY other code
        # combination's reconstruction (nearest-centroid optimality per
        # subspace) — checked via the weaker, testable bound that the
        # chosen code is the argmin within each subspace
        recon = enc.select(
            "vec_id",
            "embedding",
            sim.pq_decode_expr(F.col("pq_code"), books).alias("recon"),
        )
        err = recon.select(
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        "embedding", "recon", lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("e")
        )
        max_err = err.agg(F.max("e")).first()[0]
        # vectors are unit-ish scale; reconstruction must not be degenerate
        assert max_err < 10.0

        qs = emb.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        exact = sim.brute_force_topk(emb, qs, k=5)
        # raw ADC top-5 is inherently fragile on near-uniform unit
        # vectors (numpy reference PQ scores ~0.2-0.4 here too); the
        # production shape is shortlist + exact rerank
        raw = sim.pq_topk(emb, qs, books, k=5)
        assert raw.count() == 8 * 5
        rer = sim.pq_topk_rerank(emb, qs, books, k=5, shortlist=64)
        assert sim.recall_at_k(rer, exact, 5) >= 0.5

    def test_pq_rejects_indivisible_dim(self, spark):
        from accelerated_intelligent_document_processing_on_aws_spark.operators import (
            similarity as sim,
        )
        import pytest as _pytest

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        with _pytest.raises(ValueError):
            sim.train_pq_codebooks(emb, n_subspaces=7)
