"""Text analysis operators: language ID, quality scoring, token
counting, document fingerprinting.

All pure Catalyst expressions (regexp + array ops, whole-stage
codegen): these run over every document of a 100 TB corpus, so no
Python may appear in the plan.  Each has an ANSI-SQL twin runnable by
DuckDB for the driver's correctness cross-check.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Deliberately tiny marker lexicons: deterministic, cross-engine, and
# adequate for the synthetic corpus.  Swap for real frequency tables in
# production.
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "nicht"),
    "fr": ("le", "et", "les"),
    "es": ("el", "que", "los"),
    "zh": ("de5", "shi4", "le5"),  # pinyin-romanized placeholders
}

STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")


def ws_token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")
    return F.size(toks)


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-ish token estimate: runs of letters, runs of digits, and each
    punctuation mark count as one token (a common pre-tokenizer split)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)))


def _count_word(c: Column, word: str) -> Column:
    # word-boundary occurrences of a lowercase marker word
    return F.size(
        F.regexp_extract_all(F.lower(c), F.lit(rf"\b{word}\b"), F.lit(0))
    )


def lang_scores(text: Column | str) -> dict[str, Column]:
    c = F.col(text) if isinstance(text, str) else text
    return {
        lang: sum((_count_word(c, w) for w in words), F.lit(0))
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(text: Column | str) -> Column:
    """Marker-word language ID: argmax of per-language marker counts,
    ties broken by language code order; no hits → 'und'."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        expr = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features + composite score in [0,1]:
    length, punctuation ratio, stopword ratio, mean token length —
    the standard cheap quality filters of web-corpus curation."""
    c = F.col(text_col)
    n_chars = F.length(c)
    toks = F.filter(F.split(F.trim(F.lower(c)), r"\s+"), lambda t: t != "")
    n_tokens = F.size(toks)
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), F.lit(0)))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS_EN)))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0))
    mean_tok_len = F.when(n_tokens > 0, (F.length(F.array_join(toks, "")) / n_tokens)).otherwise(F.lit(0.0))
    # composite: long enough, not punctuation soup, some stopwords, sane words
    score = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.4
        + (1.0 - F.least(punct_ratio * 5.0, F.lit(1.0))) * 0.2
        + F.least(stop_ratio * 4.0, F.lit(1.0)) * 0.2
        + F.when((mean_tok_len >= 3) & (mean_tok_len <= 10), 1.0).otherwise(0.0) * 0.2
    )
    return df.select(
        "*",
        n_chars.alias("q_chars"),
        n_tokens.alias("q_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        F.round(score, 6).alias("quality_score"),
    )


def fingerprint_md5(text: Column | str) -> Column:
    """Whole-document fingerprint: md5 of the whitespace-normalized,
    lowercased text (exact-dup detection key)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.trim(F.lower(c)), r"\s+", " "))


def kgram_min_fingerprint(text: Column | str, k: int = 16) -> Column:
    """Rolling k-gram fingerprint: minimum md5 over all k-character
    windows of the normalized text (winnowing-style min-sampling with a
    single window).  Robust to local edits away from the minimizing
    gram; cross-engine reproducible (md5, not engine hash)."""
    c = F.col(text) if isinstance(text, str) else text
    norm = F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")
    n = F.length(norm)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: F.md5(F.substring(norm, i, k)))
    return F.array_min(grams)


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 5,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_word_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, "Scaling
    Language Models", table A1 — the public rule family every corpus
    pipeline reimplements): word-count bounds, mean-word-length band,
    symbol-to-word ratio (# and ellipsis), alpha-word fraction.  Pure
    Catalyst — one projection, no UDF; emits per-rule booleans plus the
    conjunction so downstream filters can either drop or audit."""
    words = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    mean_wl = F.when(n_words > 0, F.aggregate(
        words, F.lit(0.0), lambda acc, w: acc + F.length(w)
    ) / n_words).otherwise(F.lit(0.0))
    n_hash = F.size(F.split(F.col(text_col), "#", -1)) - 1
    n_ellipsis = F.size(F.split(F.col(text_col), r"\.\.\.", -1)) - 1
    symbol_ratio = F.when(
        n_words > 0, (n_hash + n_ellipsis) / n_words
    ).otherwise(F.lit(0.0))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_ratio = F.when(n_words > 0, alpha_words / n_words).otherwise(F.lit(0.0))
    ok_words = (n_words >= min_words) & (n_words <= max_words)
    ok_mwl = (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    ok_sym = symbol_ratio <= max_symbol_word_ratio
    ok_alpha = alpha_ratio >= min_alpha_word_ratio
    return df.select(
        "*",
        n_words.alias("g_n_words"),
        F.round(mean_wl, 6).alias("g_mean_word_len"),
        F.round(symbol_ratio, 6).alias("g_symbol_ratio"),
        F.round(alpha_ratio, 6).alias("g_alpha_ratio"),
        ok_words.alias("g_ok_words"),
        ok_mwl.alias("g_ok_mean_word_len"),
        ok_sym.alias("g_ok_symbol_ratio"),
        ok_alpha.alias("g_ok_alpha_ratio"),
        (ok_words & ok_mwl & ok_sym & ok_alpha).alias("g_pass"),
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Repetition heuristics (the C4/Gopher dedup-within-document
    family): duplicate-line fraction and top-bigram fraction per doc —
    high values flag boilerplate/spam that survives cross-doc dedup.
    Line stats are set ops on the split array; the top-bigram share is
    an explode → count → max over a window keyed by the doc (one
    shuffle on the doc id, no UDF)."""
    from pyspark.sql import Window

    lines = F.filter(
        F.split(F.col(text_col), "\n"), lambda l: F.trim(l) != ""
    )
    n_lines = F.size(lines)
    dup_line_frac = F.when(
        n_lines > 0,
        (n_lines - F.size(F.array_distinct(lines))) / n_lines,
    ).otherwise(F.lit(0.0))
    base = df.select(
        F.col(id_col).alias("id"),
        F.round(dup_line_frac, 6).alias("dup_line_frac"),
        F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda w: w != ""
        ).alias("_toks"),
    )
    grams = base.select(
        "id",
        "dup_line_frac",
        F.size("_toks").alias("_n_toks"),
        F.explode_outer(
            F.when(
                F.size("_toks") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("_toks") - 2),
                    lambda i: F.concat_ws(" ", F.element_at(F.col("_toks"), i + 1),
                                          F.element_at(F.col("_toks"), i + 2)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("_gram"),
    )
    w = Window.partitionBy("id")
    counted = (
        grams.groupBy("id", "dup_line_frac", "_n_toks", "_gram")
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn("_max_c", F.max(F.when(F.col("_gram").isNotNull(), F.col("_c"))).over(w))
        .withColumn("_total", F.sum(F.when(F.col("_gram").isNotNull(), F.col("_c")).otherwise(0)).over(w))
    )
    return (
        counted.groupBy("id", "dup_line_frac")
        .agg(
            F.round(
                F.coalesce(
                    F.max("_max_c") / F.nullif(F.max("_total"), F.lit(0)), F.lit(0.0)
                ),
                6,
            ).alias("top_bigram_frac"),
        )
    )


# RE2-and-Java-compatible patterns (no lookaround/backrefs) so the same
# regex runs in Spark and any SQL oracle engine
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONG_NUM_RE = r"[0-9]{9,}"


def scrub_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "scrubbed"
) -> DataFrame:
    """C4-style PII scrubbing: emails → ``[EMAIL]``, 9+-digit numbers
    (phone/SSN/account shapes) → ``[NUM]``; emits the scrubbed text
    plus per-doc replacement counts so downstream audits can gate on
    scrub density.  Pure ``regexp_replace`` — JVM-side, no UDF; counts
    come from ``regexp_count`` (Spark 4)."""
    c = F.col(text_col)
    return df.select(
        "*",
        F.regexp_replace(
            F.regexp_replace(c, EMAIL_RE, "[EMAIL]"), LONG_NUM_RE, "[NUM]"
        ).alias(out_col),
        F.regexp_count(c, F.lit(EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(c, F.lit(LONG_NUM_RE)).cast("int").alias("n_long_nums"),
    )


def blocklist_fraction(
    df: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
    word_col: str = "word",
) -> DataFrame:
    """Blocked-token fraction per document against a (small, broadcast)
    blocklist dim — the C4 bad-words filter shape.  Tokens explode once,
    the broadcast join marks hits, one groupBy re-aggregates: shuffle
    carries (doc id, token) only, never the text."""
    toks = df.select(
        "*",
        F.explode_outer(
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda w: w != ""
            )
        ).alias("_tok"),
    )
    bl = F.broadcast(
        blocklist.select(F.lower(F.col(word_col)).alias("_tok"), F.lit(True).alias("_hit"))
    )
    keys = [c for c in df.columns]
    return (
        toks.join(bl, "_tok", "left")
        .groupBy(*keys)
        .agg(
            F.count(F.col("_tok")).alias("n_tokens"),
            F.count(F.col("_hit")).alias("n_blocked"),
            F.round(
                F.coalesce(
                    F.count(F.col("_hit"))
                    / F.nullif(F.count(F.col("_tok")).cast("double"), F.lit(0.0)),
                    F.lit(0.0),
                ),
                6,
            ).alias("blocked_frac"),
        )
    )


def tfidf_top_terms(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_len: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per group by TF-IDF (smoothed idf =
    ln((N+1)/(df+1)) + 1): one token explode, one (term) document-
    frequency aggregate joined back, one (group, term) score aggregate,
    window top-k with a deterministic term tiebreak — the standard
    corpus-analysis rollup, all Catalyst."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("doc"),
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                    lambda w: F.length(w) >= min_len,
                )
            )
        ).alias("term"),
    )
    # corpus size joins in as a broadcast 1-row aggregate — keeps the
    # query fully lazy (no driver action at plan-build time)
    n_docs = F.broadcast(docs.agg(F.countDistinct(id_col).alias("_n_docs")))
    df_counts = toks.groupBy("term").agg(
        F.countDistinct("doc").alias("df")
    )
    idf = F.log((F.col("_n_docs") + 1).cast("double") / (F.col("df") + 1)) + 1.0
    scored = (
        toks.groupBy("grp", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(df_counts, "term")
        .crossJoin(n_docs)
        .select(
            "grp",
            "term",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("grp").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("grp").alias(group_col), "term", "tfidf", "rank")
    )


def unigram_logppl(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document self-perplexity under the corpus's own unigram MLE
    — the CCNet-style perplexity quality filter with the external LM
    replaced by the corpus unigram table (rare-token-heavy documents
    score high; boilerplate scores low).

    score = -(1/n) Σ_t ln(cnt(t)/N) = ln(N) - mean(ln cnt(t))

    Cross-engine exactness at 1000 executors: ``ln`` outputs are
    quantized to integer micro-nats PER TOKEN (``round(ln(cnt)·1e6)``
    as bigint) before any aggregation, so the per-document sum is
    order-independent integer arithmetic — the same defense the
    decimal TPC-H revenue sums use against nondeterministic partial-
    aggregate ordering (NOTES r7: supplier_lineitem_rollup).  The one
    remaining float step, the final integer→double division and 6-dp
    round, is IEEE-exact in both engines.

    Plan: one token explode; vocabulary counts via ONE hash aggregate
    on the token (map-side combine absorbs within-partition repeats);
    N as a broadcast 1-row aggregate of the vocabulary (lazy, no
    driver action); token→count re-join on the token key; per-doc
    rollup on id.  Token-less documents have no likelihood and emit
    no row (both engines drop them in the inner join).  Reference
    analog: the assessment stage's per-document confidence scoring
    (``assessment/service.py``) re-expressed as a corpus-statistics
    quality signal.

    The per-(doc, token) fold is ``localCheckpoint(eager=False)``-ed.
    That is not lazy under AQE: the call runs the fold's exchanges
    while the plan is being built.  Its blocks stay in executor storage
    until the session ends (nothing unpersists them)."""
    from ..sources.tables import spread_scan

    # round 8 (the bigram prefold pattern, applied here first): fold
    # occurrences to per-(doc, token) MULTIPLICITY before anything
    # joins or re-aggregates — the fold's groupBy gets map-side
    # combine, the vocabulary aggregates FROM the folded rows (weighted
    # sum, never a token rescan), and the count join processes
    # per-doc-distinct rows instead of occurrences (2.7M → 1.16M at
    # sf1; repetitive docs — the ones the score exists to catch — are
    # exactly the ones that blow up the occurrence-sized form).  The
    # folded frame feeds both the vocabulary and the scoring join, so
    # it is localCheckpointed — otherwise Catalyst re-tokenizes the
    # corpus per reference.  The call runs the fold's exchanges.
    # n_tokens = Σ m and Σ m·q are the same integers as the
    # per-occurrence sums, in any order.
    folded = (
        spread_scan(docs)
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                F.filter(
                    F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                    lambda t: t != "",
                )
            ).alias("tok"),
        )
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("_m"))
        .localCheckpoint(eager=False)
    )
    vocab = folded.groupBy("tok").agg(F.sum("_m").alias("_c"))
    total = F.broadcast(
        vocab.agg(
            F.round(F.log(F.sum("_c").cast("double")) * 1e6)
            .cast("bigint")
            .alias("_qn")
        )
    )
    q = folded.join(vocab, "tok").select(
        "id",
        "_m",
        (F.round(F.log(F.col("_c").cast("double")) * 1e6)).cast("bigint").alias("_q"),
    )
    return (
        q.groupBy("id")
        .agg(
            F.sum("_m").cast("bigint").alias("n_tokens"),
            F.sum(F.col("_m") * F.col("_q")).cast("bigint").alias("_sq"),
        )
        .crossJoin(total)
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.round(
                (F.col("n_tokens") * F.col("_qn") - F.col("_sq"))
                / (F.col("n_tokens") * F.lit(1e6)),
                6,
            ).alias("logppl"),
        )
    )


def bigram_logppl(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document bigram self-perplexity — the order-sensitive
    upgrade of :func:`unigram_logppl` (a doc of common words in an
    uncommon ORDER now scores high, the KenLM-filtering signal the
    unigram model cannot see).

    score = -(1/P) Σ_pairs ln( c2(prev,cur) / c1(prev) )
          = (1/P) Σ_pairs [ ln c1(prev) - ln c2(prev,cur) ]

    where c2 is the corpus bigram count and c1(prev) = Σ_cur c2 — the
    MLE conditional.  Self-scoring needs NO backoff: every scored
    bigram exists in the corpus by construction (c2 ≥ 1).  Both log
    terms are quantized to integer micro-nats per pair before the
    per-document sum, so 1000 executors' partial-aggregate order
    cannot move the result; the final integer→double division and
    6-dp round are IEEE-exact in both engines.

    Plan: bigram pairs come straight off the token array
    (``arrays_zip`` of the array with its shift — no window, no extra
    shuffle); ONE hash aggregate on the pair key builds c2; c1 is a
    second, smaller aggregate OF c2 (never a rescan); both join back
    on the pair.  Documents with <2 tokens have no bigrams and emit
    no row (both engines drop them in the inner join).  Reference
    analog: the assessment stage's per-document confidence signal
    (``idp_common/assessment/service.py``), replaced by a corpus-
    statistics language-model score as ``unigram_logppl`` documents.

    The per-(doc, pair) fold is ``localCheckpoint(eager=False)``-ed.
    That is not lazy under AQE: the call runs the fold's exchanges
    while the plan is being built.  Its blocks stay in executor storage
    until the session ends (nothing unpersists them)."""
    from ..sources.tables import spread_scan

    toks = spread_scan(docs).select(
        F.col(id_col).alias("id"),
        F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
            lambda t: t != "",
        ).alias("_t"),
    )
    # round 8 (r7 verdict item 6): fold occurrences to per-(doc, pair)
    # MULTIPLICITY before the c2/c1 joins — within-doc repeated bigrams
    # (the repetitive docs the score exists to catch) no longer
    # multiply the join input, the fold's groupBy gets map-side
    # combine, and the natural hot key ("of the" at corpus scale)
    # shrinks to one row per containing doc.  c2 aggregates FROM the
    # folded rows (weighted sum); Σ m and Σ m·q are the same integers
    # as the per-occurrence sums in any order.  The folded frame feeds
    # c2 and the scoring join, so it is localCheckpointed against
    # double tokenization.  The call runs the fold's exchanges.
    folded = (
        toks.where(F.size("_t") >= 2)
        .select(
            "id",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("_t"), 1, F.size("_t") - 1).alias("prev"),
                    F.slice(F.col("_t"), 2, F.size("_t") - 1).alias("cur"),
                )
            ).alias("_p"),
        )
        .select("id", F.col("_p.prev").alias("prev"), F.col("_p.cur").alias("cur"))
        .groupBy("id", "prev", "cur")
        .agg(F.count(F.lit(1)).alias("_m"))
        .localCheckpoint(eager=False)
    )
    c2 = folded.groupBy("prev", "cur").agg(F.sum("_m").alias("_c2"))
    c1 = c2.groupBy("prev").agg(F.sum("_c2").alias("_c1"))
    scored = (
        folded.join(c2, ["prev", "cur"])
        .join(c1, "prev")
        .select(
            "id",
            "_m",
            (
                F.round(F.log(F.col("_c1").cast("double")) * 1e6).cast("bigint")
                - F.round(F.log(F.col("_c2").cast("double")) * 1e6).cast(
                    "bigint"
                )
            ).alias("_q"),
        )
    )
    return scored.groupBy("id").agg(
        F.sum("_m").cast("bigint").alias("n_bigrams"),
        F.round(
            F.sum(F.col("_m") * F.col("_q")).cast("double")
            / (F.sum("_m") * F.lit(1e6)),
            6,
        ).alias("logppl2"),
    ).select(F.col("id").alias(id_col), "n_bigrams", "logppl2")
