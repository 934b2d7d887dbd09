"""Corpus-curation query entries (dedup / text analysis / comparators /
similarity) with DuckDB oracle twins where ANSI-SQL-expressible.

Parity notes vs DuckDB:
- DuckDB ``regexp_replace`` needs the ``'g'`` flag (Spark's is global).
- DuckDB ``SUM(int)`` returns HUGEINT → always ``CAST(... AS BIGINT)``.
- ``list_*`` functions mirror Spark's array functions with set
  semantics for intersect/distinct.
- md5 is the only cross-engine hash — engine hashes (xxhash64) stay
  Spark-side only (those operators get rows-only checks).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_sim
from ..operators import dedup, evaluation as ev, textstats
from ..sources.tables import load_table as _t

ENTRIES: dict = {}


def q(name: str, sql: str | None):
    def deco(fn):
        ENTRIES[name] = (fn, sql)
        return fn

    return deco


_NORM_SQL = (
    "lower(trim(regexp_replace(regexp_replace({x}, '[^\\w\\s]', '', 'g'), "
    "'\\s+', ' ', 'g')))"
)


# ---------------------------------------------------------------------------
# comparators (evaluation/comparator.py semantics, cross-checked in SQL)
# ---------------------------------------------------------------------------

@q(
    "compare_exact_normalized",
    f"""
    SELECT p_partkey,
           ({_NORM_SQL.format(x="p_brand")} =
            {_NORM_SQL.format(x="replace(p_brand, '#', '-')")})   AS brand_selfmatch,
           ({_NORM_SQL.format(x="p_name")} =
            {_NORM_SQL.format(x="p_type")})                       AS name_type_match
    FROM part
    """,
)
def compare_exact_normalized(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        ev.compare_exact(
            F.col("p_brand"), F.regexp_replace("p_brand", "#", "-")
        ).alias("brand_selfmatch"),
        ev.compare_exact(F.col("p_name"), F.col("p_type")).alias("name_type_match"),
    )


@q(
    "compare_numeric_currency",
    """
    SELECT o_orderkey,
           (TRY_CAST(regexp_replace('$' || printf('%.2f', o_totalprice),
                                    '[$,()\\s]', '', 'g') AS DOUBLE)
              = o_totalprice)                                    AS currency_match,
           (TRY_CAST(regexp_replace('$' || printf('%.2f', o_totalprice),
                                    '[$,()\\s]', '', 'g') AS DOUBLE)
              = o_totalprice + 1)                                AS shifted_match
    FROM orders WHERE o_orderkey % 10 = 0
    """,
)
def compare_numeric_currency(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 10 == 0)
    cur = F.concat(F.lit("$"), F.format_string("%.2f", F.col("o_totalprice")))
    from ..functions.normalize import norm_numeric

    return o.select(
        "o_orderkey",
        (norm_numeric(cur) == F.col("o_totalprice")).alias("currency_match"),
        (norm_numeric(cur) == F.col("o_totalprice") + 1).alias("shifted_match"),
    )


_EMB_SQL = (
    "list_transform(range(0, 16), d -> CAST(len(list_filter("
    "list_transform(range(1, greatest(len({s}) - 2, 1) + 1), "
    "i -> CAST('0x' || substr(md5(substr({s}, CAST(i AS INT), 3)), 1, 8) AS BIGINT) % 16), "
    "b -> b = d)) AS DOUBLE))"
)


@q(
    "semantic_cosine_eval",
    f"""
    WITH pairs AS (
      SELECT p_partkey,
             {_NORM_SQL.format(x="p_name")} AS sa,
             CASE WHEN p_partkey % 5 = 0 THEN ''
                  ELSE {_NORM_SQL.format(x="p_type")} END AS sb
      FROM part WHERE p_partkey % 4 = 0
    ), emb AS (
      SELECT p_partkey, sa, sb,
             {_EMB_SQL.format(s="sa")} AS va,
             {_EMB_SQL.format(s="sb")} AS vb
      FROM pairs
    )
    SELECT p_partkey,
           ROUND(CASE
             WHEN len(sa) = 0 OR len(sb) = 0 THEN 0.0
             ELSE list_sum(list_transform(range(1, 17),
                    j -> va[CAST(j AS INT)] * vb[CAST(j AS INT)]))
                  / (sqrt(list_sum(list_transform(va, x -> x*x)))
                     * sqrt(list_sum(list_transform(vb, x -> x*x))))
           END, 6) AS score,
           (CASE
             WHEN len(sa) = 0 OR len(sb) = 0 THEN 0.0
             ELSE list_sum(list_transform(range(1, 17),
                    j -> va[CAST(j AS INT)] * vb[CAST(j AS INT)]))
                  / (sqrt(list_sum(list_transform(va, x -> x*x)))
                     * sqrt(list_sum(list_transform(vb, x -> x*x))))
           END >= 0.5) AS is_match
    FROM emb
    """,
)
def semantic_cosine_eval(spark, sf_dir):
    """compare_semantic upgraded to the surveyed design (round 3): a
    deterministic hashed char-ngram embedding + cosine threshold,
    mirroring the reference's embed-then-cosine comparator
    (``evaluation/comparator.py:422-492``) with md5 as the cross-engine
    hash so the oracle recomputes the exact vectors in SQL.

    The unrounded score is evaluated ONCE in an inner projection and
    both outputs derive from it — higher-order-function lambdas defeat
    Catalyst CSE, so calling ``semantic_score`` and ``compare_semantic``
    side by side evaluates the O(len·dim) embedding tree twice per row
    (the sf1 sweep measured this query at 90.6 s spark-side, 7× any
    other survivor).  ``is_match`` thresholds the UNROUNDED score,
    exactly as ``compare_semantic`` and the oracle's CASE expression
    do; rounding is display-only."""
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") % 4 == 0)
    b = F.when(F.col("p_partkey") % 5 == 0, F.lit("")).otherwise(F.col("p_type"))
    inner = p.select(
        "p_partkey", ev.semantic_score(F.col("p_name"), b).alias("_s")
    )
    return inner.select(
        "p_partkey",
        F.round(F.col("_s"), 6).alias("score"),
        (F.col("_s") >= F.lit(0.5)).alias("is_match"),
    )


@q(
    "fuzzy_levenshtein_pairs",
    f"""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           ROUND(1.0 - levenshtein({_NORM_SQL.format(x="a.p_name")},
                                   {_NORM_SQL.format(x="b.p_name")})
                 / GREATEST(length({_NORM_SQL.format(x="a.p_name")}),
                            length({_NORM_SQL.format(x="b.p_name")})), 4) AS fuzzy
    FROM part a JOIN part b
      ON a.p_size = b.p_size AND a.p_partkey < b.p_partkey
    WHERE a.p_partkey % 5 = 0
    """,
)
def fuzzy_levenshtein_pairs(spark, sf_dir):
    """Round-8 shape (same rows): the blocked self-join fans one part
    row out to ~|size group| pairs, so (a) the normalization regexes
    are evaluated ONCE PER ROW before the join instead of once per
    pair (guide §2.3 "project before the exchange" — at sf1 the
    per-pair form ran 2×80M regex normalizations; per-row is 2×200k),
    and (b) the probe side is spread off its single-row-group scan
    partition so the 80M-pair fan-out runs on every core instead of
    one (guide §2.5 — the broadcast-hash probe side inherits scan
    parallelism, and a 1.6 MB single-row-group file scans as ONE
    task).  The per-pair expression is the same piecewise definition
    ``fuzzy_score`` evaluates, computed from the per-row normalized
    columns, so the result is bit-identical."""
    from ..functions.normalize import norm_text
    from ..sources.tables import spread_scan

    p = _t(spark, sf_dir, "part")
    base = p.select(
        "p_partkey",
        "p_size",
        F.coalesce(norm_text(F.col("p_name")), F.lit("")).alias("_n"),
        (F.col("p_name").isNull() | (F.trim(F.col("p_name")) == "")).alias("_e"),
    )
    # build side pinned to b: the planner would otherwise broadcast the
    # smaller (filtered) a side and probe b's single scan partition
    a = spread_scan(base.where(F.col("p_partkey") % 5 == 0)).alias("a")
    b = F.broadcast(base.alias("b"))
    la, lb = F.length(F.col("a._n")), F.length(F.col("b._n"))
    fuzzy = (
        F.when(F.col("a._e") & F.col("b._e"), F.lit(1.0))
        .when((la == 0) | (lb == 0), F.lit(0.0))
        .otherwise(
            1.0 - F.levenshtein(F.col("a._n"), F.col("b._n")) / F.greatest(la, lb)
        )
    )
    return (
        a.join(b, (F.col("a.p_size") == F.col("b.p_size")) & (F.col("a.p_partkey") < F.col("b.p_partkey")))
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.round(fuzzy, 4).alias("fuzzy"),
        )
    )


@q(
    "evaluation_prf_metrics",
    """
    SELECT ROUND(CAST(SUM(CASE WHEN pred AND gold THEN 1 ELSE 0 END) AS DOUBLE)
                 / NULLIF(SUM(CASE WHEN pred THEN 1 ELSE 0 END), 0), 6) AS precision,
           ROUND(CAST(SUM(CASE WHEN pred AND gold THEN 1 ELSE 0 END) AS DOUBLE)
                 / NULLIF(SUM(CASE WHEN gold THEN 1 ELSE 0 END), 0), 6) AS recall,
           COUNT(*) AS n
    FROM (SELECT contains(text, 'join') AS pred, lang = 'en' AS gold FROM documents)
    """,
)
def evaluation_prf_metrics(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    flagged = d.select(
        F.col("text").contains("join").alias("pred"), (F.col("lang") == "en").alias("gold")
    )
    tp = F.sum(F.when(F.col("pred") & F.col("gold"), 1).otherwise(0)).cast("double")
    p_all = F.sum(F.when(F.col("pred"), 1).otherwise(0))
    g_all = F.sum(F.when(F.col("gold"), 1).otherwise(0))
    return flagged.agg(
        F.round(tp / F.nullif(p_all, F.lit(0)), 6).alias("precision"),
        F.round(tp / F.nullif(g_all, F.lit(0)), 6).alias("recall"),
        F.count(F.lit(1)).alias("n"),
    )


@q(
    "embedding_cosine_pairs",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 3)
             + 0.0 AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE a.vec_id % 20 = 0
    """,
)
def embedding_cosine_pairs(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    a = e.alias("a").where(F.col("vec_id") % 20 == 0)
    b = e.alias("b")
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            (F.round(cosine_sim(F.col("a.embedding"), F.col("b.embedding")), 3) + 0.0).alias(
                "cosine"
            ),
        )
    )


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------

@q(
    "dedup_exact_groups",
    """
    SELECT md5(text) AS content_hash, COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact_groups(spark, sf_dir):
    return dedup.exact_duplicates(_t(spark, sf_dir, "documents"))


@q(
    "ngram_jaccard_block_pairs",
    """
    WITH t AS (
      SELECT doc_id, source,
             list_distinct(list_transform(
               generate_series(1, len(regexp_split_to_array(trim(lower(text)), '\\s+')) - 1),
               i -> regexp_split_to_array(trim(lower(text)), '\\s+')[i] || ' ' ||
                    regexp_split_to_array(trim(lower(text)), '\\s+')[i+1]
             )) AS sh
      FROM documents WHERE doc_id % 4 = 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
    FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
    """,
)
def ngram_jaccard_block_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 0)
    return dedup.ngram_jaccard_pairs(d, "source", n=2, threshold=0.0)


@q(
    "fingerprint_md5_docs",
    """
    SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def fingerprint_md5_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", textstats.fingerprint_md5("text").alias("fingerprint"))


@q(
    "kgram_min_fingerprint_docs",
    """
    WITH n AS (SELECT doc_id,
                      regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
               FROM documents WHERE doc_id % 4 = 0)
    SELECT doc_id,
           list_min(list_transform(
             generate_series(1, GREATEST(length(norm) - 15, 1)),
             i -> md5(substr(norm, i, 16)))) AS kgram_fp
    FROM n
    """,
)
def kgram_min_fingerprint_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 0)
    return d.select("doc_id", textstats.kgram_min_fingerprint("text", 16).alias("kgram_fp"))


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

@q(
    "token_counts",
    """
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                t -> t <> '')) AS BIGINT)  AS n_tokens_ws,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                AS BIGINT)                                  AS n_tokens_bpe
    FROM documents
    """,
)
def token_counts(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textstats.ws_token_count("text").cast("long").alias("n_tokens_ws"),
        textstats.bpe_ish_token_count("text").cast("long").alias("n_tokens_bpe"),
    )


_LANG_CNT = {
    lang: " + ".join(
        f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))" for w in words
    )
    for lang, words in textstats.LANG_MARKERS.items()
}

@q(
    "lang_id_pred",
    f"""
    WITH s AS (
      SELECT doc_id,
             {_LANG_CNT['en']} AS c_en, {_LANG_CNT['de']} AS c_de,
             {_LANG_CNT['fr']} AS c_fr, {_LANG_CNT['es']} AS c_es,
             {_LANG_CNT['zh']} AS c_zh
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN c_de > 0 AND c_de = GREATEST(c_en, c_de, c_fr, c_es, c_zh) THEN 'de'
                WHEN c_en > 0 AND c_en = GREATEST(c_en, c_de, c_fr, c_es, c_zh) THEN 'en'
                WHEN c_es > 0 AND c_es = GREATEST(c_en, c_de, c_fr, c_es, c_zh) THEN 'es'
                WHEN c_fr > 0 AND c_fr = GREATEST(c_en, c_de, c_fr, c_es, c_zh) THEN 'fr'
                WHEN c_zh > 0 AND c_zh = GREATEST(c_en, c_de, c_fr, c_es, c_zh) THEN 'zh'
                ELSE 'und' END AS pred_lang
    FROM s
    """,
)
def lang_id_pred(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", textstats.lang_id("text").alias("pred_lang"))


_STOP_SQL = "['" + "','".join(textstats.STOPWORDS_EN) + "']"

@q(
    "quality_scores",
    f"""
    WITH f AS (
      SELECT doc_id,
             length(text) AS n_chars,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         t -> t <> '') AS toks,
             len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct
      FROM documents
    ), g AS (
      SELECT doc_id, n_chars, n_punct, len(toks) AS n_tokens,
             len(list_filter(toks, t -> list_contains({_STOP_SQL}, t))) AS n_stop,
             CASE WHEN len(toks) > 0
                  THEN CAST(length(array_to_string(toks, '')) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS mean_token_len
      FROM f
    )
    SELECT doc_id,
           ROUND(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END, 6)
             AS punct_ratio,
           ROUND(CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE)/n_tokens ELSE 0.0 END, 6)
             AS stopword_ratio,
           ROUND(mean_token_len, 6) AS mean_token_len,
           ROUND(LEAST(n_tokens/100.0, 1.0)*0.4
                 + (1.0 - LEAST(CASE WHEN n_chars > 0
                                     THEN CAST(n_punct AS DOUBLE)/n_chars
                                     ELSE 0.0 END * 5.0, 1.0))*0.2
                 + LEAST(CASE WHEN n_tokens > 0
                              THEN CAST(n_stop AS DOUBLE)/n_tokens
                              ELSE 0.0 END * 4.0, 1.0)*0.2
                 + CASE WHEN mean_token_len >= 3 AND mean_token_len <= 10
                        THEN 1.0 ELSE 0.0 END*0.2, 6) AS quality_score
    FROM g
    """,
)
def quality_scores(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return textstats.quality_features(d).select(
        "doc_id", "punct_ratio", "stopword_ratio", "mean_token_len", "quality_score"
    )


@q(
    "dedup_keep_representative_docs",
    f"""
    WITH RECURSIVE tk AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents WHERE doc_id % 4 = 0
    ), t AS (
      SELECT doc_id, source,
             CASE WHEN len(toks) < 2 THEN [coalesce(array_to_string(toks, ' '), '')]
                  ELSE list_distinct(list_transform(
                         generate_series(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1])) END AS sh
      FROM tk
    ), p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.5
    ), und AS (
      SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p
    ), closure(a, b) AS (
      SELECT s, d FROM und
      UNION
      SELECT c.a, u.d FROM closure c JOIN und u ON c.b = u.s
    ), clusters AS (
      SELECT a AS id, LEAST(a, MIN(b)) AS cluster_id FROM closure GROUP BY a
    ), qf AS (
      SELECT doc_id,
             length(text) AS n_chars,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         tk -> tk <> '') AS toks,
             len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct
      FROM documents WHERE doc_id % 4 = 0
    ), qg AS (
      SELECT doc_id, n_chars, n_punct, len(toks) AS n_tokens,
             len(list_filter(toks, tk -> list_contains({_STOP_SQL}, tk))) AS n_stop,
             CASE WHEN len(toks) > 0
                  THEN CAST(length(array_to_string(toks, '')) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS mean_token_len
      FROM qf
    ), score AS (
      SELECT doc_id,
             ROUND(LEAST(n_tokens/100.0, 1.0)*0.4
                   + (1.0 - LEAST(CASE WHEN n_chars > 0
                                       THEN CAST(n_punct AS DOUBLE)/n_chars
                                       ELSE 0.0 END * 5.0, 1.0))*0.2
                   + LEAST(CASE WHEN n_tokens > 0
                                THEN CAST(n_stop AS DOUBLE)/n_tokens
                                ELSE 0.0 END * 4.0, 1.0)*0.2
                   + CASE WHEN mean_token_len >= 3 AND mean_token_len <= 10
                          THEN 1.0 ELSE 0.0 END*0.2, 6) AS s
      FROM qg
    ), losers AS (
      SELECT id AS doc_id FROM (
        SELECT c.id,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY sc.s DESC, c.id ASC) AS rk
        FROM clusters c JOIN score sc ON c.id = sc.doc_id
      ) WHERE rk > 1
    )
    SELECT d.doc_id, d.source FROM documents d
    LEFT JOIN losers l ON d.doc_id = l.doc_id
    WHERE d.doc_id % 4 = 0 AND l.doc_id IS NULL
    """,
)
def dedup_keep_representative_docs(spark, sf_dir):
    """Near-dup clusters keep their BEST-quality member (C4/RefinedWeb
    curation rule; ``operators/dedup.py:dedup_keep_representative``):
    n-gram Jaccard pairs → connected components → quality-ranked winner
    per cluster (max composite ``quality_score``, tie → min doc_id) →
    broadcast anti-join of the losers against the corpus.  The oracle
    recomputes the same result with a recursive transitive closure and
    a window rank — feasible because fixture components are small.
    The Spark path labels the components in one Arrow task and scores
    only the clustered docs, reading the clusters once through one
    broadcast join.  The oracle mirrors
    the Spark shingle kernel's short-doc fallback (whole-text singleton
    below n tokens, [''] for token-less docs — r6 ADVICE) and rounds
    Jaccard to 6dp before thresholding, pinned by
    tests/test_keep_representative_shortdocs.py."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 0)
    pairs = dedup.ngram_jaccard_pairs(d, "source", n=2, threshold=0.5)
    kept = dedup.dedup_keep_representative(d, pairs, id_col="doc_id")
    return kept.select("doc_id", "source")


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

@q(
    "ann_bruteforce_topk",
    """
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
      FROM embeddings q JOIN embeddings c ON q.vec_id < 8
    ), ranked AS (
      SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, ROUND(cos, 3) + 0.0 AS cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def ann_bruteforce_topk(spark, sf_dir):
    from ..operators import similarity

    e = _t(spark, sf_dir, "embeddings")
    qs = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.brute_force_topk(e, qs, k=5)
    # re-round to 3dp for cross-engine float tolerance
    return out.select(
        "query_id", "vec_id", (F.round("cosine", 3) + 0.0).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


# ---------------------------------------------------------------------------
# JSON / chunking / summarization analogs
# ---------------------------------------------------------------------------

@q(
    "json_extract_field",
    """
    SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events WHERE event_id % 3 = 0
    """,
)
def json_extract_field(spark, sf_dir):
    e = _t(spark, sf_dir, "events").where(F.col("event_id") % 3 == 0)
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


@q(
    "chunk_counts",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(len(generate_series(0, GREATEST(len(toks) - 1, 0), 15)) AS BIGINT)
             AS n_chunks,
           array_to_string(toks[1:20], ' ') AS first_chunk
    FROM t
    """,
)
def chunk_counts(spark, sf_dir):
    from ..functions.chunking import chunk_spans

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(chunk_spans("text", chunk_size=20, overlap=5)).cast("long").alias("n_chunks"),
        F.array_join(
            F.slice(F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != ""), 1, 20),
            " ",
        ).alias("first_chunk"),
    )


@q(
    "summarize_head_tokens",
    """
    SELECT doc_id,
           array_to_string(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                       x -> x <> '')[1:12], ' ') AS summary
    FROM documents WHERE doc_id % 2 = 0
    """,
)
def summarize_head_tokens(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 2 == 0)
    toks = F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
    return d.select("doc_id", F.array_join(F.slice(toks, 1, 12), " ").alias("summary"))


# ---------------------------------------------------------------------------
# converter analogs (document_converter.py)
# ---------------------------------------------------------------------------

@q(
    "csv_markdown_rows",
    """
    WITH lines AS (
      SELECT o_orderkey,
             o_orderstatus || ',' || o_orderpriority || ',' ||
             printf('%.2f', o_totalprice) AS csv_line
      FROM orders WHERE o_orderkey % 25 = 0
    )
    SELECT o_orderkey,
           '| ' || array_to_string(
             list_transform(string_split(csv_line, ','),
                            x -> regexp_replace(trim(x), '\\|', '\\\\|', 'g')),
             ' | ') || ' |' AS md_row,
           CAST(len(string_split(csv_line, ',')) AS BIGINT) AS n_fields
    FROM lines
    """,
)
def csv_markdown_rows(spark, sf_dir):
    from ..sources.converters import csv_fields, markdown_row

    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 25 == 0)
    line = F.concat_ws(
        ",",
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
        F.format_string("%.2f", F.col("o_totalprice")),
    )
    return o.select(
        "o_orderkey",
        markdown_row(line).alias("md_row"),
        F.size(csv_fields(line)).cast("long").alias("n_fields"),
    )


@q(
    "paginate_lines",
    """
    WITH t AS (
      SELECT doc_id,
             array_to_string(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                         x -> x <> ''), chr(10)) AS multiline
      FROM documents WHERE doc_id % 10 = 0
    ), pages AS (
      SELECT doc_id,
             unnest(generate_series(0,
               GREATEST(CAST(ceil(len(string_split(multiline, chr(10)))/10.0) AS INTEGER) - 1,
                        0))) AS p,
             string_split(multiline, chr(10)) AS lines
      FROM t
    )
    SELECT doc_id, CAST(p + 1 AS INTEGER) AS page_no,
           array_to_string(lines[p*10+1 : p*10+10], chr(10)) AS page_text
    FROM pages
    """,
)
def paginate_lines_q(spark, sf_dir):
    from ..sources.converters import paginate_lines

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    toks = F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
    multiline = d.select("doc_id", F.array_join(toks, "\n").alias("multiline"))
    return paginate_lines(multiline, ["doc_id"], "multiline", lines_per_page=10)


# ---------------------------------------------------------------------------
# rule validation (rule_validation/service.py analog)
# ---------------------------------------------------------------------------

@q(
    "rule_validation_summary",
    """
    WITH checks AS (
      SELECT 'status_required' AS rule_name, 'required' AS kind,
             (o_orderstatus IS NOT NULL AND trim(o_orderstatus) <> '') AS passed
      FROM orders
      UNION ALL
      SELECT 'priority_format', 'regex',
             COALESCE(regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$'), FALSE)
      FROM orders
      UNION ALL
      SELECT 'price_range', 'range',
             COALESCE(o_totalprice >= 0 AND o_totalprice <= 1000000, FALSE)
      FROM orders
      UNION ALL
      SELECT 'status_one_of', 'one_of',
             COALESCE(o_orderstatus IN ('O', 'F', 'P'), FALSE)
      FROM orders
    )
    SELECT rule_name, kind, COUNT(*) AS n_checked,
           CAST(SUM(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_passed,
           ROUND(AVG(CASE WHEN passed THEN 1.0 ELSE 0.0 END), 6) AS pass_rate
    FROM checks GROUP BY rule_name, kind
    """,
)
def rule_validation_summary(spark, sf_dir):
    from ..operators.rules import Rule, summary, validate

    o = _t(spark, sf_dir, "orders")
    rules = [
        Rule("status_required", "o_orderstatus", "required"),
        Rule("priority_format", "o_orderpriority", "regex", pattern=r"^[1-5]-[A-Z ]+$"),
        Rule("price_range", "o_totalprice", "range", lo=0.0, hi=1_000_000.0),
        Rule("status_one_of", "o_orderstatus", "one_of", allowed=["O", "F", "P"]),
    ]
    return summary(validate(o, rules, ["o_orderkey"]))


# ---------------------------------------------------------------------------
# capstone: the training-data curation pipeline in one plan
# ---------------------------------------------------------------------------

@q(
    "curation_pipeline_stats",
    f"""
    WITH scored AS (
      SELECT doc_id, lang, text,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                             t -> t <> '')) AS n_tokens,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
    ), kept AS (
      SELECT * FROM scored
      WHERE n_tokens >= 20 AND lang IN ('en', 'de', 'fr')
    ), deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM kept
      ) WHERE rn = 1
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_tokens), 4) AS avg_tokens
    FROM deduped GROUP BY lang
    """,
)
def curation_pipeline_stats(spark, sf_dir):
    """End-to-end corpus curation: quality gate (min tokens) → language
    allowlist → exact dedup (fingerprint, keep lowest id) → per-language
    corpus statistics.  The composition the dedup/textstats operators
    exist for, in one Catalyst plan."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        textstats.ws_token_count("text").alias("n_tokens"),
        textstats.fingerprint_md5("text").alias("fp"),
    )
    kept = scored.where((F.col("n_tokens") >= 20) & F.col("lang").isin("en", "de", "fr"))
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = kept.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
    )


@q(
    "zorder_keys",
    """
    WITH s AS (
      SELECT MIN(CAST(user_id AS DOUBLE)) AS lo_u, MAX(CAST(user_id AS DOUBLE)) AS hi_u,
             MIN(CAST(value AS DOUBLE)) AS lo_v, MAX(CAST(value AS DOUBLE)) AS hi_v
      FROM events
    ), q AS (
      SELECT event_id,
             CAST(LEAST(CASE WHEN hi_u = lo_u THEN 0 ELSE FLOOR((CAST(user_id AS DOUBLE) - lo_u) / (hi_u - lo_u) * 255) END, 255) AS BIGINT) AS uq,
             CAST(LEAST(CASE WHEN hi_v = lo_v THEN 0 ELSE FLOOR((CAST(value AS DOUBLE) - lo_v) / (hi_v - lo_v) * 255) END, 255) AS BIGINT) AS vq
      FROM events, s
    )
    SELECT event_id, CAST((((uq >> 0) & 1) << 0) + (((vq >> 0) & 1) << 1) + (((uq >> 1) & 1) << 2) + (((vq >> 1) & 1) << 3) + (((uq >> 2) & 1) << 4) + (((vq >> 2) & 1) << 5) + (((uq >> 3) & 1) << 6) + (((vq >> 3) & 1) << 7) + (((uq >> 4) & 1) << 8) + (((vq >> 4) & 1) << 9) + (((uq >> 5) & 1) << 10) + (((vq >> 5) & 1) << 11) + (((uq >> 6) & 1) << 12) + (((vq >> 6) & 1) << 13) + (((uq >> 7) & 1) << 14) + (((vq >> 7) & 1) << 15) AS BIGINT) AS zkey
    FROM q
""",
)
def zorder_keys(spark, sf_dir):
    """Z-order clustering key (Morton interleave of min/max-quantized
    columns) — the multi-column file-pruning layout lever at 100 TB
    (Delta OPTIMIZE ZORDER analog), as pure Catalyst integer
    arithmetic; the oracle recomputes quantization + interleave
    bit-for-bit in SQL."""
    from ..operators.layout_opt import quantize_minmax_multi, zorder_key

    e = _t(spark, sf_dir, "events")
    out = quantize_minmax_multi(e, ["user_id", "value"], 8)
    return out.select(
        "event_id",
        zorder_key(["user_id_q", "value_q"], 8).alias("zkey"),
    )


_WORDS_SQL = (
    "list_filter(regexp_split_to_array(trim({t}), '\\s+'), w -> w <> '')"
)


@q(
    "gopher_quality_flags",
    f"""
    WITH w AS (
      SELECT doc_id, text, {_WORDS_SQL.format(t="text")} AS words,
             len(string_split(text, '#')) - 1 AS n_hash,
             len(string_split(text, '...')) - 1 AS n_ellipsis
      FROM documents
    ), m AS (
      SELECT doc_id,
             len(words) AS g_n_words,
             CASE WHEN len(words) > 0 THEN
               CAST(list_sum(list_transform(words, x -> len(x))) AS DOUBLE)
                 / len(words) ELSE 0.0 END AS mwl,
             CASE WHEN len(words) > 0 THEN
               CAST(n_hash + n_ellipsis AS DOUBLE) / len(words)
             ELSE 0.0 END AS sym,
             CASE WHEN len(words) > 0 THEN
               CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
                    AS DOUBLE) / len(words) ELSE 0.0 END AS alpha
      FROM w
    )
    SELECT doc_id, g_n_words,
           ROUND(mwl, 6)   AS g_mean_word_len,
           ROUND(sym, 6)   AS g_symbol_ratio,
           ROUND(alpha, 6) AS g_alpha_ratio,
           (g_n_words BETWEEN 5 AND 100000
            AND mwl BETWEEN 2.0 AND 12.0
            AND sym <= 0.1 AND alpha >= 0.8) AS g_pass
    FROM m
    """,
)
def gopher_quality_flags_docs(spark, sf_dir):
    """Gopher rule-family quality gate (Rae et al. 2021 table A1 —
    word-count bounds, mean-word-length band, symbol ratio, alpha
    fraction) as one Catalyst projection; the canonical pre-training
    corpus filter, oracle-checked per rule AND on the conjunction."""
    from ..operators.textstats import gopher_quality_flags

    d = _t(spark, sf_dir, "documents")
    return gopher_quality_flags(d).select(
        "doc_id",
        "g_n_words",
        "g_mean_word_len",
        "g_symbol_ratio",
        "g_alpha_ratio",
        "g_pass",
    )


@q(
    "repetition_stats_docs",
    f"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines,
             {_WORDS_SQL.format(t="lower(text)")} AS toks
      FROM documents
    ), g AS (
      SELECT doc_id,
             CASE WHEN len(lines) > 0 THEN
               ROUND(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                     / len(lines), 6) ELSE 0.0 END AS dup_line_frac,
             CASE WHEN len(toks) >= 2 THEN
               list_transform(range(1, len(toks)),
                              i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1])
             ELSE [] END AS grams
      FROM base
    )
    SELECT doc_id AS id, dup_line_frac,
           CASE WHEN len(grams) = 0 THEN 0.0 ELSE
             ROUND(CAST(list_max(list_transform(list_distinct(grams),
                     x -> len(list_filter(grams, y -> y = x)))) AS DOUBLE)
                   / len(grams), 6) END AS top_bigram_frac
    FROM g
    """,
)
def repetition_stats_docs(spark, sf_dir):
    """Within-document repetition heuristics (C4/Gopher family):
    duplicate-line fraction (array set ops) and top-bigram share
    (explode → count → window max, ONE shuffle on the doc id) — flags
    boilerplate/spam that cross-document dedup cannot see."""
    from ..operators.textstats import repetition_stats

    d = _t(spark, sf_dir, "documents")
    return repetition_stats(d)


@q(
    "pii_scrub_docs",
    r"""
    WITH seeded AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 3 = 0
                          THEN ' contact user' || CAST(doc_id AS VARCHAR)
                               || '@example.com or 4155551234567'
                          ELSE '' END AS t
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                            '[EMAIL]', 'g'),
             '[0-9]{9,}', '[NUM]', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(t, '[0-9]{9,}')) AS INT) AS n_long_nums
    FROM seeded
    """,
)
def pii_scrub_docs(spark, sf_dir):
    """C4-style PII scrub (emails → [EMAIL], long digit runs → [NUM])
    with per-doc replacement counts — RE2/Java-compatible patterns so
    the oracle replays the exact regexes.  Payloads are seeded with
    synthetic PII in-query (the fixture corpus is clean)."""
    from ..operators.textstats import scrub_pii

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com or 4155551234567"),
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    return scrub_pii(d, text_col="t").select(
        "doc_id", "scrubbed", "n_emails", "n_long_nums"
    )


_BLOCKLIST = ("join", "shuffle", "error")  # demo blocklist


@q(
    "blocklist_fraction_docs",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_WORDS_SQL.format(t="lower(text)")}) AS tok
      FROM documents
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN tok IN ('join', 'shuffle', 'error')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
           ROUND(CAST(SUM(CASE WHEN tok IN ('join', 'shuffle', 'error')
                              THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS blocked_frac
    FROM toks GROUP BY doc_id
    """,
)
def blocklist_fraction_docs(spark, sf_dir):
    """Blocked-token fraction per doc against a broadcast blocklist dim
    (the C4 bad-words filter shape): explode tokens once, broadcast
    join, re-aggregate — shuffle carries (doc_id, token), never text."""
    from ..operators.textstats import blocklist_fraction

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bl = spark.createDataFrame([(w,) for w in _BLOCKLIST], "word string")
    return blocklist_fraction(d, bl).select(
        "doc_id", "n_tokens", "n_blocked", "blocked_frac"
    )


@q(
    "decontaminate_train_docs",
    """
    WITH bench AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(
        generate_series(1, greatest(len(regexp_split_to_array(trim(lower(text)), '\\s+')) - 2, 1)),
        i -> regexp_split_to_array(trim(lower(text)), '\\s+')[i] || ' ' ||
             regexp_split_to_array(trim(lower(text)), '\\s+')[i+1] || ' ' ||
             regexp_split_to_array(trim(lower(text)), '\\s+')[i+2]
      ))) AS g
      FROM documents WHERE doc_id % 97 = 0
    ), train AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
        generate_series(1, greatest(len(regexp_split_to_array(trim(lower(text)), '\\s+')) - 2, 1)),
        i -> regexp_split_to_array(trim(lower(text)), '\\s+')[i] || ' ' ||
             regexp_split_to_array(trim(lower(text)), '\\s+')[i+1] || ' ' ||
             regexp_split_to_array(trim(lower(text)), '\\s+')[i+2]
      ))) AS g
      FROM documents WHERE doc_id % 97 <> 0
    )
    SELECT t.doc_id AS id,
           CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           (SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) > 0) AS contaminated
    FROM train t LEFT JOIN bench b ON t.g = b.g
    GROUP BY t.doc_id
    """,
)
def decontaminate_train_docs(spark, sf_dir):
    """Benchmark decontamination (GPT-3-style n-gram overlap vs a small
    eval set): every 97th doc plays the benchmark; the rest are flagged
    if they share any 3-gram (13 in production — fixture docs are
    short).  Benchmark shingles broadcast; the corpus shuffles only
    (id, hit) rows."""
    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 97 == 0)
    train = d.where(F.col("doc_id") % 97 != 0)
    return dedup.decontaminate(train, bench, n=3)


@q(
    "embedding_int8_quantization",
    """
    WITH s AS (
      SELECT vec_id, embedding,
             CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0
                  THEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
                  ELSE 1.0 END AS scale
      FROM embeddings
    )
    SELECT vec_id, ROUND(scale, 9) AS scale,
           array_to_string(list_transform(embedding,
             x -> CAST(CAST(ROUND(CAST(x AS DOUBLE) / scale) AS TINYINT)
                       AS VARCHAR)), ',') AS q8,
           ROUND(sqrt(list_sum(list_transform(
             list_zip(embedding,
                      list_transform(embedding,
                        x -> ROUND(CAST(x AS DOUBLE) / scale) * scale)),
             p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))
             / len(embedding)), 6) AS rms_err
    FROM s
    """,
)
def embedding_int8_quantization(spark, sf_dir):
    """Per-vector symmetric int8 quantization (4× smaller vector
    storage) with the round-trip RMS error surfaced — the oracle
    recomputes scale, codes, and error bit-for-bit.  The quantized
    codes are emitted CSV-joined (the driver's canonicalizer cannot
    sort raw array cells); library users keep the array-typed
    :func:`quantize_embeddings_int8` API."""
    from ..operators.similarity import dequantize_int8, quantize_embeddings_int8

    e = _t(spark, sf_dir, "embeddings")
    q = quantize_embeddings_int8(e)
    deq = dequantize_int8(F.col("q8"), F.col("scale"))
    err = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                deq,
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.size("embedding")
    )
    # rms_err MUST be materialized BEFORE the projection that re-aliases
    # `scale` to its 9dp-rounded display value: in a single select,
    # Catalyst resolves err's F.col("scale") against the SIBLING rounded
    # alias, silently dequantizing with the rounded scale — a ~1e-10
    # relative shift that flips 6dp rounding on boundary rows (caught by
    # the sf0.1 sweep: 6 rows off by 1 in the 6th decimal; DuckDB uses
    # the unrounded scale, as the library API does).
    q = q.withColumn("rms_err", F.round(err, 6))
    return q.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.array_join(
            F.transform("q8", lambda x: x.cast("string")), ","
        ).alias("q8"),
        "rms_err",
    )


@q(
    "tfidf_top_terms",
    """
    WITH toks AS (
      SELECT source AS grp, doc_id AS doc,
             unnest(list_distinct(list_filter(
               regexp_split_to_array(trim(lower(text)), '\\s+'),
               w -> len(w) >= 3))) AS term
      FROM documents
    ), n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    dfc AS (SELECT term, COUNT(DISTINCT doc) AS df FROM toks GROUP BY term),
    scored AS (
      SELECT t.grp, t.term,
             ROUND(COUNT(*) * (ln(CAST(n.n_docs + 1 AS DOUBLE) / (d.df + 1)) + 1.0), 6)
               AS tfidf
      FROM toks t, n JOIN dfc d ON t.term = d.term
      GROUP BY t.grp, t.term, d.df, n.n_docs
    )
    SELECT grp AS source, term, tfidf, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY grp
                   ORDER BY tfidf DESC, term ASC) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def tfidf_top_terms_docs(spark, sf_dir):
    """Top-5 characteristic terms per source feed by smoothed TF-IDF —
    one explode, two aggregates, one window; ranking on rounded scores
    with a term tiebreak keeps the cross-engine order stable."""
    from ..operators.textstats import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"))


# -- cross-document paragraph dedup (C4 boilerplate-line removal) -----------
@q(
    "paragraph_dedup_docs",
    """
    WITH lines AS (
      SELECT doc_id, generate_subscripts(string_split(text, chr(10)), 1) - 1 AS idx,
             unnest(string_split(text, chr(10))) AS line
      FROM documents
    ), nonempty AS (
      SELECT doc_id, idx, line, md5(lower(trim(line))) AS k
      FROM lines WHERE length(trim(line)) >= 1
    ), winners AS (
      SELECT doc_id, idx, line,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id, idx) AS rn
      FROM nonempty
    )
    SELECT n.doc_id,
           COALESCE(w.kept_text, '') AS kept_text,
           n.n_lines,
           COALESCE(w.n_kept, 0) AS n_kept
    FROM (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines
          FROM nonempty GROUP BY doc_id) n
    LEFT JOIN (SELECT doc_id,
                      string_agg(line, chr(10) ORDER BY idx) AS kept_text,
                      CAST(COUNT(*) AS BIGINT) AS n_kept
               FROM winners WHERE rn = 1 GROUP BY doc_id) w
      ON n.doc_id = w.doc_id
    """,
)
def paragraph_dedup_docs(spark, sf_dir):
    """C4-style cross-document line dedup: global first-occurrence
    winner per normalized line (one md5-key window shuffle), kept lines
    re-joined per doc in original order.  See
    :func:`...operators.dedup.dedup_paragraphs` for the scale notes."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.dedup_paragraphs(docs, "doc_id", "text", min_chars=1)


@q(
    "paragraph_dedup_groupby_docs",
    # same oracle as paragraph_dedup_docs: the two physical strategies
    # must produce identical results
    """
    WITH lines AS (
      SELECT doc_id, generate_subscripts(string_split(text, chr(10)), 1) - 1 AS idx,
             unnest(string_split(text, chr(10))) AS line
      FROM documents
    ), nonempty AS (
      SELECT doc_id, idx, line, md5(lower(trim(line))) AS k
      FROM lines WHERE length(trim(line)) >= 1
    ), winners AS (
      SELECT doc_id, idx, line,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id, idx) AS rn
      FROM nonempty
    )
    SELECT n.doc_id,
           COALESCE(w.kept_text, '') AS kept_text,
           n.n_lines,
           COALESCE(w.n_kept, 0) AS n_kept
    FROM (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines
          FROM nonempty GROUP BY doc_id) n
    LEFT JOIN (SELECT doc_id,
                      string_agg(line, chr(10) ORDER BY idx) AS kept_text,
                      CAST(COUNT(*) AS BIGINT) AS n_kept
               FROM winners WHERE rn = 1 GROUP BY doc_id) w
      ON n.doc_id = w.doc_id
    """,
)
def paragraph_dedup_groupby_docs(spark, sf_dir):
    """The skew-robust paragraph-dedup strategy: map-side-combinable
    ``groupBy(key).agg(min(struct))`` + AQE-splittable join-back instead
    of the window/``WindowGroupLimit`` form — same oracle SQL as
    ``paragraph_dedup_docs``, so the driver certifies the two physical
    plans equivalent.  See
    :func:`...operators.dedup.dedup_paragraphs_groupby`."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.dedup_paragraphs_groupby(docs, "doc_id", "text", min_chars=1)


@q(
    "split_leakage_exact",
    """
    WITH d AS (
      SELECT doc_id, md5(text) AS content_hash,
             CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                        AS BIGINT) % 10 < 8 THEN 'train'
                  WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                        AS BIGINT) % 10 < 9 THEN 'valid'
                  ELSE 'test' END AS split
      FROM documents
    ), g AS (
      SELECT content_hash,
             COUNT(*) AS n_docs,
             COUNT(DISTINCT split) AS n_splits
      FROM d GROUP BY content_hash
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_groups,
           CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_leaky_groups,
           CAST(SUM(CASE WHEN n_splits > 1 THEN n_docs ELSE 0 END) AS BIGINT)
             AS n_leaked_docs
    FROM g
    """,
)
def split_leakage_exact(spark, sf_dir):
    """Train/valid/test contamination check for exact duplicates — the
    pre-training split hygiene step: deterministic md5-bucket split
    (8/1/1 on doc_id), then one hash-groupBy over content md5 counting
    groups whose members span more than one split.  A leaky group means
    eval rows are memorizable from train.  Scale shape: ONE shuffle of
    (content_hash, split) pairs, partial-aggregated map-side; the
    summary is a single row.  Mirrors the reference's evaluation-
    leakage concern (evaluation compares train-derived predictions
    against held-out goldens, lib/idp_common_pkg/idp_common/evaluation/
    service.py) restated as a corpus-level gate."""
    d = _t(spark, sf_dir, "documents").select(
        F.md5(F.col("text")).alias("content_hash"),
        F.when(
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
            ).cast("bigint")
            % 10
            < 8,
            "train",
        )
        .when(
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
            ).cast("bigint")
            % 10
            < 9,
            "valid",
        )
        .otherwise("test")
        .alias("split"),
    )
    g = d.groupBy("content_hash").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("split").alias("n_splits"),
    )
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_groups"),
        F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_leaky_groups"),
        F.sum(F.when(F.col("n_splits") > 1, F.col("n_docs")).otherwise(0))
        .cast("bigint")
        .alias("n_leaked_docs"),
    )


@q(
    "intra_doc_line_dedup",
    """
    WITH lines AS (
      SELECT doc_id, generate_subscripts(string_split(text, chr(10)), 1) - 1 AS idx,
             unnest(string_split(text, chr(10))) AS line
      FROM documents
    ), nonempty AS (
      SELECT doc_id, idx, line, md5(lower(trim(line))) AS k
      FROM lines WHERE length(trim(line)) >= 1
    ), winners AS (
      SELECT doc_id, idx, line,
             ROW_NUMBER() OVER (PARTITION BY doc_id, k ORDER BY idx) AS rn
      FROM nonempty
    )
    SELECT n.doc_id,
           COALESCE(w.kept_text, '') AS kept_text,
           n.n_lines,
           COALESCE(w.n_kept, 0) AS n_kept
    FROM (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines
          FROM nonempty GROUP BY doc_id) n
    LEFT JOIN (SELECT doc_id,
                      string_agg(line, chr(10) ORDER BY idx) AS kept_text,
                      CAST(COUNT(*) AS BIGINT) AS n_kept
               FROM winners WHERE rn = 1 GROUP BY doc_id) w
      ON n.doc_id = w.doc_id
    """,
)
def intra_doc_line_dedup(spark, sf_dir):
    """WITHIN-document repeated-line removal — the intra-doc counterpart
    of the C4 cross-corpus step (`paragraph_dedup_docs`): keep the
    first occurrence of each normalized line PER DOCUMENT.  The window
    partitions on (doc_id, line_md5), so unlike the corpus-wide form
    there is no global hot key at all — the widest partition is one
    document's copies of one line — and the `_rn == 1` filter keeps the
    WindowGroupLimit pushdown as a second belt.  One shuffle keyed by
    (doc_id, hash)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    lines = docs.select(
        F.col("doc_id").alias("_id"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("_idx", "_line"),
    ).where(F.length(F.trim(F.col("_line"))) >= 1)
    w = Window.partitionBy(
        "_id", F.md5(F.lower(F.trim(F.col("_line"))))
    ).orderBy("_idx")
    kept = lines.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") == 1
    )
    per_doc = kept.groupBy("_id").agg(
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
    totals = lines.groupBy("_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )
    return totals.join(per_doc, "_id", "left").select(
        F.col("_id").alias("doc_id"),
        F.coalesce("kept_text", F.lit("")).alias("kept_text"),
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
    )


# -- duplicated n-gram span fraction (substring-dedup approximation) --------
@q(
    "duplicate_ngram_spans",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> t <> '') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id,
             md5(array_to_string(t[i:i+4], ' ')) AS g
      FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)
      WHERE len(t) >= 5
    ), counted AS (
      SELECT g, COUNT(*) AS c FROM grams GROUP BY g
    ), per_doc AS (
      SELECT gr.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN ct.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_grams
      FROM grams gr JOIN counted ct ON gr.g = ct.g
      GROUP BY gr.doc_id
    )
    SELECT doc_id, n_grams, n_dup_grams,
           ROUND(CAST(n_dup_grams AS DOUBLE) / n_grams, 6) AS dup_gram_frac
    FROM per_doc
    """,
)
def duplicate_ngram_spans(spark, sf_dir):
    """Corpus-duplicated n-gram coverage per document — the Spark-first
    approximation of suffix-array substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"): a
    5-token gram occurring in 2+ places marks a duplicated span; a
    document's ``dup_gram_frac`` is the share of its grams that are
    globally repeated.  Plan: explode positional gram keys (8-byte
    ``xxhash64`` of the gram, never the text), ONE window count over the
    gram key, per-doc rollup — two shuffles total, carrying (gram key,
    doc_id) only.

    Gram keys are 64-bit, so distinct grams can collide, and a
    collision only over-counts: both grams read as repeated.  With
    ``m`` distinct grams the expected number of colliding pairs is about
    ``m² / 2^65``: ~0.03 at 10^9, even odds of one collision near
    5·10^9, and ~27,000 pairs at 10^12 — at that scale up to ~5·10^4
    grams (~5·10^-8 of them) are wrongly marked duplicated.  A 128-bit
    key (two seeded hashes) would be needed for exact counts there."""
    from ..sources.tables import spread_scan

    # round 8: (a) spread the scan — tokenize + gram assembly is the
    # dominant cost and single-row-group fixture files scan as 1-2
    # partitions; (b) the gram key is grouping-only (never output,
    # never compared cross-engine), so an 8-byte xxhash64 replaces the
    # 32-char md5 hex — 4x fewer key bytes through the window exchange
    # and a cheaper hash (the exact_substring r7 drill precedent;
    # the collision bound is in the docstring)
    docs = spread_scan(_t(spark, sf_dir, "documents"))
    n = 5
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
        ).alias("_t"),
    )
    grams = toks.where(F.size("_t") >= n).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_t") - (n - 1)),
                lambda i: F.xxhash64(
                    F.concat_ws(" ", F.slice(F.col("_t"), i, n))
                ),
            )
        ).alias("_g"),
    )
    # window count instead of groupBy+join-back: ONE exchange on the
    # gram hash serves both the global count and the per-gram rows
    # (the join form shuffled grams twice and re-scanned the agg) —
    # measured 1.9x faster at sf0.1.  Trade-off at adversarial skew: a
    # window has no map-side combine, so a single gram repeated 10^9
    # times lands in one task; for corpora where that's plausible use
    # the groupBy+broadcast-join form (the pre-round-4 shape) or cap
    # gram multiplicity first (the minhash bucket-cap pattern).
    counted = grams.withColumn(
        "_c", F.count(F.lit(1)).over(Window.partitionBy("_g"))
    )
    return (
        counted
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("_c") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            F.round(
                F.col("n_dup_grams").cast("double") / F.col("n_grams"), 6
            ).alias("dup_gram_frac"),
        )
    )


# -- fixed-width histogram (no width_bucket in the oracle: shared floor
#    arithmetic on both sides) ----------------------------------------------
@q(
    "length_histogram",
    """
    SELECT CAST(LEAST(GREATEST(FLOOR(n_chars / 500.0), 0), 19) AS BIGINT)
             AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY 1
    """,
)
def length_histogram(spark, sf_dir):
    """Document-length histogram: 20 fixed 500-char buckets (top bucket
    open-ended) — one 20-group aggregate, fully map-side combinable;
    the corpus-profiling primitive behind length-based quality cuts."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.least(
        F.greatest(F.floor(F.col("n_chars") / 500.0), F.lit(0)), F.lit(19)
    ).cast("bigint")
    return (
        docs.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )


# -- approx percentile with a CHECKED rank-error bound ----------------------
@q(
    "approx_percentile_bounds",
    """
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.50), 4) AS p50_exact,
           ROUND(quantile_cont(o_totalprice, 0.90), 4) AS p90_exact,
           TRUE AS p50_ok, TRUE AS p90_ok
    FROM orders GROUP BY o_orderpriority
    """,
)
def approx_percentile_bounds(spark, sf_dir):
    """``percentile_approx`` (GK sketch, accuracy=10000 → rank error
    1e-4·N) checked in-plan against the exact percentile: the approx
    value must fall between the exact quantiles at q∓0.01 — the
    sketch's published rank guarantee becomes the oracle-verified
    value (the HLL ``approx_ok`` pattern).  The sketch is the
    per-group >10^9-row path: fixed-size mergeable state vs the exact
    percentile's full-sort."""
    o = _t(spark, sf_dir, "orders")

    def band(q):
        lo = F.expr(f"percentile(o_totalprice, {q - 0.01})")
        hi = F.expr(f"percentile(o_totalprice, {q + 0.01})")
        ap = F.expr(f"percentile_approx(o_totalprice, {q}, 10000)")
        ex = F.expr(f"percentile(o_totalprice, {q})")
        return ex, (ap >= lo) & (ap <= hi)

    p50, ok50 = band(0.50)
    p90, ok90 = band(0.90)
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(p50, 4).alias("p50_exact"),
            F.round(p90, 4).alias("p90_exact"),
            ok50.alias("p50_ok"),
            ok90.alias("p90_ok"),
        )
    )


# -- array-function battery (atomic outputs: the registry lint bans
#    exposing raw arrays to the driver canonicalizer) -----------------------
@q(
    "array_functions_battery",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents WHERE doc_id % 20 = 0
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_toks,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           array_to_string(list_sort(toks)[1:3], ',') AS first3_sorted,
           list_contains(toks, 'the') AS has_the,
           toks[1] AS head_tok,
           toks[len(toks)] AS last_tok
    FROM t
    """,
)
def array_functions_battery(spark, sf_dir):
    """Array-function surface over tokenized text: size, distinct,
    sort+slice, contains, head/last element — all whole-stage-codegen
    array expressions (no explode, no shuffle beyond the scan), results
    emitted as atomic columns (CSV-joined slice) per the driver
    canonicalizer contract."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 20 == 0)
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_toks"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        F.array_join(F.slice(F.array_sort(toks), 1, 3), ",").alias(
            "first3_sorted"
        ),
        F.array_contains(toks, "the").alias("has_the"),
        F.element_at(toks, 1).alias("head_tok"),
        F.element_at(toks, -1).alias("last_tok"),
    )


# -- PQ encode under the driver hash: formula-derived literal codebook ------
def _pq_formula_codebooks(m: int = 4, k: int = 4, w: int = 16):
    """Deterministic codebook both engines can construct:
    centroid[s][c][j] = ((c+1)(j+1)(s+1) mod 7 - 3)/3."""
    return [
        [
            [((c + 1) * (j + 1) * (s + 1) % 7 - 3) / 3.0 for j in range(w)]
            for c in range(k)
        ]
        for s in range(m)
    ]


@q(
    "pq_encode_literal",
    """
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id % 5 = 0
    )
    SELECT vec_id,
           array_to_string(
             list_transform(range(4), s ->
               list_position(
                 list_transform(range(4), c ->
                   list_sum(list_transform(range(16), j ->
                     (v[CAST(s*16 + j + 1 AS INT)]
                      - (CAST(((c+1)*(j+1)*(s+1)) % 7 AS DOUBLE) - 3.0) / 3.0)
                     * (v[CAST(s*16 + j + 1 AS INT)]
                        - (CAST(((c+1)*(j+1)*(s+1)) % 7 AS DOUBLE) - 3.0) / 3.0)
                   ))
                 ),
                 list_min(list_transform(range(4), c ->
                   list_sum(list_transform(range(16), j ->
                     (v[CAST(s*16 + j + 1 AS INT)]
                      - (CAST(((c+1)*(j+1)*(s+1)) % 7 AS DOUBLE) - 3.0) / 3.0)
                     * (v[CAST(s*16 + j + 1 AS INT)]
                        - (CAST(((c+1)*(j+1)*(s+1)) % 7 AS DOUBLE) - 3.0) / 3.0)
                   ))
                 ))
               ) - 1
             ), ',') AS pq_code
    FROM e
    """,
)
def pq_encode_literal(spark, sf_dir):
    """PQ encode under the driver's value hash: a formula-derived
    literal codebook (both engines construct centroid[s][c][j] =
    ((c+1)(j+1)(s+1) mod 7 − 3)/3) pins the trained-codebook
    nondeterminism away, so the per-subspace argmin — first-occurrence
    tie-break, left-to-right double accumulation — is hash-checked
    end-to-end.  The trained path (``ann_pq_rerank_topk``) shares this
    exact encode expression."""
    from ..operators.similarity import pq_encode

    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") % 5 == 0)
    books = _pq_formula_codebooks()
    return pq_encode(e, books).select(
        "vec_id",
        F.array_join(
            F.transform("pq_code", lambda x: x.cast("string")), ","
        ).alias("pq_code"),
    )


# -- simhash fingerprint under the driver hash (md5 token hashes) -----------
@q(
    "simhash_md5_fingerprint",
    """
    WITH t AS (
      SELECT doc_id,
             list_transform(
               list_distinct(list_filter(
                 regexp_split_to_array(lower(trim(text)), '\\s+'),
                 x -> x <> '')),
               tok -> CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)
             ) AS h
      FROM documents WHERE doc_id % 10 = 0
    )
    SELECT doc_id,
           CAST(len(h) AS BIGINT) AS n_toks,
           array_to_string(
             list_transform(range(60), j ->
               CASE WHEN list_sum(list_transform(h, x ->
                      CASE WHEN (x >> CAST(j AS INT)) & 1 = 1
                           THEN 1 ELSE -1 END)) >= 0
                    THEN '1' ELSE '0' END
             ), '') AS simhash_bits
    FROM t
    """,
)
def simhash_md5_fingerprint(spark, sf_dir):
    """SimHash with a cross-engine hash: each distinct token's 60-bit
    md5-prefix hash votes ±1 per bit position; bit j of the fingerprint
    is the sign of the vote sum (ties → 1).  The engine's production
    simhash (``dedup.simhash_pairs``) uses xxhash64 and stays
    rows-only; THIS variant makes the simhash bit-vote semantics
    themselves hash-checked against an independent SQL recomputation.
    Pure Catalyst: tokens hashed ONCE into an int array, 60 bit-votes
    as nested higher-order aggregates (bit j extracted by exact
    power-of-two modular arithmetic — ``shiftright`` needs a literal
    shift, the transform variable j is a column).  Emitted as a 60-char
    bit string (atomic column, exact at any width)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    toks = F.array_distinct(
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != ""
        )
    )
    h = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint"),
    )
    # exact powers of two as bigint literals: P[j+1] = 2^j
    pows = F.array(*[F.lit(1 << j).cast("bigint") for j in range(61)])
    bit = lambda x, j: F.when(
        (x % F.element_at(pows, j + 2)) >= F.element_at(pows, j + 1), 1
    ).otherwise(-1)
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(59)),
        lambda j: F.when(
            F.aggregate(
                F.col("_h"), F.lit(0), lambda acc, x: acc + bit(x, j)
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0")),
    )
    # Empty-doc pin: F.aggregate over an empty array returns the init (0),
    # making every vote >= 0 → all '1'; DuckDB's list_sum over an empty
    # list is NULL → CASE false → all '0'.  Pin the zero-token case to the
    # oracle's all-zeros fingerprint explicitly.
    return (
        docs.select("doc_id", h.alias("_h"))
        .select(
            "doc_id",
            F.size("_h").cast("bigint").alias("n_toks"),
            F.when(F.size("_h") == 0, F.lit("0" * 60))
            .otherwise(F.array_join(bits, ""))
            .alias("simhash_bits"),
        )
    )


# -- minhash signature under the driver hash (md5-salted hash family) -------
@q(
    "minhash_md5_signature",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(
               regexp_split_to_array(lower(trim(text)), '\\s+'),
               x -> x <> '') AS toks
      FROM documents WHERE doc_id % 10 = 0
    ), sh AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
               i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i+1 AS INT)]
                    || ' ' || toks[CAST(i+2 AS INT)]) AS shingles
      FROM t
    )
    SELECT doc_id,
           CAST(len(shingles) AS BIGINT) AS n_shingles,
           array_to_string(
             list_transform(range(16), i ->
               CAST(list_min(list_transform(shingles, s ->
                 CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || s), 1, 15)
                      AS BIGINT))) AS VARCHAR)
             ), ',') AS minhash_sig
    FROM sh WHERE len(shingles) > 0
    """,
)
def minhash_md5_signature(spark, sf_dir):
    """MinHash signature with a cross-engine hash family: h_i(s) =
    60-bit prefix of md5(i || ':' || s) over word 3-shingles of the
    token sequence; sig[i] = min over shingles.  K independent
    salted hashes replace the production path's blake2b+universal-remix
    (engine-internal, rows-only) so the estimator's min-stability —
    P(sig_a[i]=sig_b[i]) = Jaccard — is hash-checked against an
    independent SQL recomputation.  Pure Catalyst: one shingle array,
    16 min-aggregates in codegen, no shuffle beyond the scan."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    # Guard: sequence(1, 0) in Spark steps DOWNWARD ([1, 0]) rather than
    # yielding empty, so a <3-token doc would index element_at(_t, 0) and
    # throw INVALID_ARRAY_INDEX before the size(_sh) > 0 filter can drop
    # it.  Build shingles only when there are >= 3 tokens.
    shingles = F.when(
        F.size(F.col("_t")) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("_t")) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("_t"), i),
                F.element_at(F.col("_t"), i + 1),
                F.element_at(F.col("_t"), i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hmin = lambda i: F.array_min(
        F.transform(
            F.col("_sh"),
            lambda s: F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(str(i)), F.lit(":"), s)), 1, 15
                ),
                16,
                10,
            ).cast("bigint"),
        )
    )
    sig = F.array(*[hmin(i).cast("string") for i in range(16)])
    return (
        docs.select("doc_id", toks.alias("_t"))
        .select("doc_id", shingles.alias("_sh"))
        .where(F.size("_sh") > 0)
        .select(
            "doc_id",
            F.size("_sh").cast("bigint").alias("n_shingles"),
            F.array_join(sig, ",").alias("minhash_sig"),
        )
    )


# ---------------------------------------------------------------------------
# round 7 late additions: exact-substring removal, self-perplexity,
# asymmetric containment
# ---------------------------------------------------------------------------

@q(
    "exact_substring_dedup_docs",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> t <> '') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+4], ' ')) AS g
      FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)
      WHERE len(t) >= 5
    ), dupg AS (
      SELECT g FROM grams GROUP BY g HAVING COUNT(*) > 1
    ), dup AS (
      SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dupg)
    ), brk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= 5
                  THEN 0 ELSE 1 END AS b
      FROM dup
    ), grp AS (
      SELECT doc_id, pos,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
      FROM brk
    ), spans AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) + 4 AS e
      FROM grp GROUP BY doc_id, gid
      HAVING MAX(pos) + 4 - MIN(pos) + 1 >= 10
    ), posi AS (
      SELECT tk.doc_id, u.i AS pos, tk.t[u.i] AS tok
      FROM toks tk, UNNEST(range(1, len(tk.t) + 1)) AS u(i)
    ), kept AS (
      SELECT p.doc_id, p.pos, p.tok
      FROM posi p
      WHERE NOT EXISTS (SELECT 1 FROM spans s
                        WHERE s.doc_id = p.doc_id
                          AND p.pos BETWEEN s.s AND s.e)
    )
    SELECT tk.doc_id,
           CAST(len(tk.t) AS BIGINT) AS n_tokens,
           CAST(len(tk.t) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(k.cleaned_text, '') AS cleaned_text
    FROM toks tk
    LEFT JOIN (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
      FROM kept GROUP BY doc_id
    ) k USING (doc_id)
    """,
)
def exact_substring_dedup_docs(spark, sf_dir):
    """Exact-substring REMOVAL (Lee et al. suffix-array dedup analog):
    maximal runs of corpus-duplicated 5-gram windows covering >= 10
    tokens are cut; output is the cleaned corpus plus removal counts.
    See ``operators/dedup.remove_duplicated_spans`` for the plan-shape
    story (one gram-hash exchange, per-doc islands on the duplicated
    subset only, single-evaluated HOF kept-position filter)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.remove_duplicated_spans(
        docs, gram_n=5, min_span_tokens=10
    )


@q(
    "unigram_logppl_docs",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(
               regexp_split_to_array(lower(trim(text)), '\\s+'),
               t -> t <> '')) AS tok
      FROM documents
    ), vocab AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ), tot AS (
      SELECT CAST(ROUND(ln(CAST(SUM(c) AS DOUBLE)) * 1e6) AS BIGINT) AS qn
      FROM vocab
    ), q AS (
      SELECT t.doc_id,
             CAST(ROUND(ln(CAST(v.c AS DOUBLE)) * 1e6) AS BIGINT) AS q
      FROM toks t JOIN vocab v USING (tok)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND((COUNT(*) * (SELECT qn FROM tot) - CAST(SUM(q) AS BIGINT))
                 / (COUNT(*) * 1e6), 6) AS logppl
    FROM q GROUP BY doc_id
    """,
)
def unigram_logppl_docs(spark, sf_dir):
    """Corpus self-perplexity quality score (CCNet analog): per-doc
    mean negative unigram log-likelihood, integer-micro-nat quantized
    per token so the distributed sum is order-independent (see
    ``operators/textstats.unigram_logppl``)."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.unigram_logppl(docs)


@q(
    "containment_quote_pairs",
    """
    WITH t AS (
      SELECT doc_id, source,
             list_distinct(list_transform(
               generate_series(1, len(regexp_split_to_array(trim(lower(text)), '\\s+')) - 1),
               i -> regexp_split_to_array(trim(lower(text)), '\\s+')[i] || ' ' ||
                    regexp_split_to_array(trim(lower(text)), '\\s+')[i+1]
             )) AS sh
      FROM documents WHERE doc_id % 4 = 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(a.sh), 6) AS cont_a_in_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(b.sh), 6) AS cont_b_in_a,
           ROUND(GREATEST(
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh),
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh)),
             6) AS containment
    FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
    """,
)
def containment_quote_pairs(spark, sf_dir):
    """Asymmetric shingle containment per in-block pair — the quote /
    inclusion detector symmetric Jaccard misses (a short doc quoted
    inside a long one has containment ~1, Jaccard ~|A|/|B|).  Same
    blocking + subset contract as ``ngram_jaccard_block_pairs``; the
    intersect is single-evaluated in an inner projection (see
    ``operators/dedup.containment_pairs``)."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 0)
    return dedup.containment_pairs(d, "source", n=2, threshold=0.0)


@q(
    "bloom_incremental_dedup_docs",
    """
    SELECT i.doc_id, i.lang, i.n_chars
    FROM documents i
    WHERE i.doc_id % 3 <> 0
      AND NOT EXISTS (SELECT 1 FROM documents r
                      WHERE r.doc_id % 3 = 0
                        AND md5(r.text) = md5(i.text))
    """,
)
def bloom_incremental_dedup_docs(spark, sf_dir):
    """Incremental-ingestion dedup with Bloom pre-pruning: incoming
    docs (doc_id % 3 != 0) whose content hash is NOT in the reference
    snapshot (doc_id % 3 == 0).  The Bloom probe is a PLAN
    optimization — the oracle pins plain anti-join semantics, which
    the operator must reproduce exactly (false negatives impossible
    by construction; false positives removed by the exact-verify
    join).  See ``operators/dedup.bloom_build`` /
    ``bloom_incremental_dedup`` for the two-regime (single-bitmap vs
    sharded) 10^12-key story."""
    docs = _t(spark, sf_dir, "documents")
    ref = docs.where(F.col("doc_id") % 3 == 0).select(
        F.md5("text").alias("content_hash")
    )
    incoming = docs.where(F.col("doc_id") % 3 != 0).select(
        "doc_id", "lang", "n_chars", F.md5("text").alias("content_hash")
    )
    bitmap = dedup.bloom_build(ref, "content_hash", m_bits=1 << 20, k=7)
    out = dedup.bloom_incremental_dedup(incoming, ref, bitmap, "content_hash")
    return out.select("doc_id", "lang", "n_chars")


@q(
    "exact_substring_keepfirst_docs",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> t <> '') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+4], ' ')) AS g
      FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)
      WHERE len(t) >= 5
    ), marked AS (
      SELECT doc_id, pos,
             COUNT(*) OVER (PARTITION BY g) AS c,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
      FROM grams
    ), dup AS (
      SELECT doc_id, pos FROM marked WHERE c > 1 AND rn > 1
    ), brk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= 5
                  THEN 0 ELSE 1 END AS b
      FROM dup
    ), grp AS (
      SELECT doc_id, pos,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
      FROM brk
    ), spans AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) + 4 AS e
      FROM grp GROUP BY doc_id, gid
      HAVING MAX(pos) + 4 - MIN(pos) + 1 >= 10
    ), posi AS (
      SELECT tk.doc_id, u.i AS pos, tk.t[u.i] AS tok
      FROM toks tk, UNNEST(range(1, len(tk.t) + 1)) AS u(i)
    ), kept AS (
      SELECT p.doc_id, p.pos, p.tok
      FROM posi p
      WHERE NOT EXISTS (SELECT 1 FROM spans s
                        WHERE s.doc_id = p.doc_id
                          AND p.pos BETWEEN s.s AND s.e)
    )
    SELECT tk.doc_id,
           CAST(len(tk.t) AS BIGINT) AS n_tokens,
           CAST(len(tk.t) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(k.cleaned_text, '') AS cleaned_text
    FROM toks tk
    LEFT JOIN (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
      FROM kept GROUP BY doc_id
    ) k USING (doc_id)
    """,
)
def exact_substring_keepfirst_docs(spark, sf_dir):
    """Lee-et-al PRODUCTION mode of exact-substring dedup: the
    globally first occurrence of each duplicated gram (total order by
    (doc_id, pos)) survives, so one copy of every duplicated passage
    remains in the corpus; later occurrences are cut as in
    ``exact_substring_dedup_docs``.  The occurrence rank rides the
    same gram-hash exchange as the multiplicity count."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.remove_duplicated_spans(
        docs, gram_n=5, min_span_tokens=10, keep_first=True
    )


@q(
    "bigram_logppl_docs",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> t <> '') AS t
      FROM documents
    ), pairs AS (
      SELECT doc_id, t[i] AS prev, t[i+1] AS cur
      FROM toks, UNNEST(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2
    ), c2 AS (
      SELECT prev, cur, COUNT(*) AS c2 FROM pairs GROUP BY prev, cur
    ), c1 AS (
      SELECT prev, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY prev
    ), q AS (
      SELECT p.doc_id,
             CAST(ROUND(ln(CAST(c1.c1 AS DOUBLE)) * 1e6) AS BIGINT)
               - CAST(ROUND(ln(CAST(c2.c2 AS DOUBLE)) * 1e6) AS BIGINT) AS q
      FROM pairs p
      JOIN c2 ON p.prev = c2.prev AND p.cur = c2.cur
      JOIN c1 ON p.prev = c1.prev
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(CAST(SUM(q) AS BIGINT) / (COUNT(*) * 1e6), 6) AS logppl2
    FROM q GROUP BY doc_id
    """,
)
def bigram_logppl_docs(spark, sf_dir):
    """Bigram self-perplexity quality score — order-sensitive upgrade
    of ``unigram_logppl_docs`` (see ``textstats.bigram_logppl``:
    MLE conditional from corpus bigram counts, no backoff needed for
    self-scoring, integer micro-nat quantization per pair)."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.bigram_logppl(docs)
