"""Operator-parity queries with DuckDB oracle twins (round 2).

Round 1 left several operators with only rows-only driver checks
because their pipeline inputs come from the extraction kernel (not
SQL-visible).  These queries run the SAME operators over the
SQL-visible parquet tables so the driver's DuckDB cross-check exercises
them end-to-end: BIO sections aggregation, section text assembly, the
single-class fast path, per-class threshold alerts, the config-driven
structured compare, Hungarian list compare, multimodal payload
plumbing, the Excel/Word converter analogs, and JSON/YAML format
detection.

Parity conventions (see corpus_queries): CAST sums to BIGINT, round
only outputs, ``'g'`` flag on DuckDB regexp_replace, md5 as the only
cross-engine digest.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import layout_tables as lt
from ..operators import multimodal, segmentation as seg
from ..operators.evaluation import configured_attribute_eval, hungarian_udf
from ..operators.extract import alerts_with_thresholds
from ..sources import converters
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


def _event_turns(spark, sf_dir):
    """Events table mapped into the classified-turns shape: conversation
    = user, turn = event ordered by event_id, classification =
    event_type — a deterministic, SQL-visible stand-in for the kernel's
    per-turn output that lets segmentation operators be oracle-checked."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("event_type").alias("classification"),
        F.lit("continue").alias("boundary"),
        F.floor("value").cast("double").alias("confidence"),
    )


_BIO_SQL_BASE = """
    WITH t AS (
      SELECT CAST(user_id AS VARCHAR) AS conv_id,
             CAST(event_id AS INT)    AS turn_idx,
             event_type               AS cls,
             CAST(FLOOR(value) AS DOUBLE) AS conf,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS flag
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    ), s AS (
      SELECT *, CAST(SUM(flag) OVER (PARTITION BY conv_id ORDER BY turn_idx
                     ROWS UNBOUNDED PRECEDING) AS INT) AS section_id
      FROM t
    )
"""


@q(
    "sections_bio_events",
    _BIO_SQL_BASE
    + """
    SELECT conv_id, section_id, MIN(cls) AS classification,
           string_agg(CAST(turn_idx AS VARCHAR), ',' ORDER BY turn_idx) AS turn_idxs,
           COUNT(*) AS n_turns,
           ROUND(AVG(conf), 4) AS confidence
    FROM s GROUP BY conv_id, section_id
    """,
)
def sections_bio_events(spark, sf_dir):
    """Full BIO sections table (tag + collect + stats) over SQL-visible
    turns — the driver-level oracle for the flagship segmentation
    operator (round 1 had only the gaps-islands count proxy)."""
    out = seg.sections(_event_turns(spark, sf_dir), "llm_determined")
    return out.select(
        "conv_id",
        "section_id",
        "classification",
        F.array_join(F.transform("turn_idxs", lambda x: x.cast("string")), ",").alias(
            "turn_idxs"
        ),
        "n_turns",
        "confidence",
    )


@q(
    "section_text_events",
    _BIO_SQL_BASE
    + """
    SELECT conv_id, section_id,
           string_agg(cls, chr(10) ORDER BY turn_idx) AS section_text
    FROM s GROUP BY conv_id, section_id
    """,
)
def section_text_events(spark, sf_dir):
    """Section text assembly (turn texts joined in stable turn order) —
    oracle twin for ``seg.section_text`` (``extraction/service.py:624-656``)."""
    turns = _event_turns(spark, sf_dir).withColumn(
        "extracted_text", F.col("classification")
    )
    return seg.section_text(seg.tag_sections_bio(turns))


@q(
    "single_class_sections_events",
    """
    SELECT CAST(user_id AS VARCHAR) AS conv_id,
           1 AS section_id,
           'invoice' AS classification,
           string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS turn_idxs,
           COUNT(*) AS n_turns,
           CAST(1.0 AS DOUBLE) AS confidence
    FROM events GROUP BY user_id
    """,
)
def single_class_sections_events(spark, sf_dir):
    """Single-class fast path (``classification/service.py:1847-1884``):
    one configured class → every turn that class at confidence 1.0, one
    section per conversation, no classifier in the plan."""
    out = seg.single_class_sections(_event_turns(spark, sf_dir), "invoice")
    return out.select(
        "conv_id",
        "section_id",
        "classification",
        F.array_join(F.transform("turn_idxs", lambda x: x.cast("string")), ",").alias(
            "turn_idxs"
        ),
        "n_turns",
        "confidence",
    )


@q(
    "name_regex_fastpath",
    """
    WITH named AS (
      SELECT 'conv-' || CAST(user_id AS VARCHAR) AS conv_id, event_id,
             CASE WHEN regexp_matches('conv-' || CAST(user_id AS VARCHAR), '1$')
                  THEN 'invoice'
                  WHEN regexp_matches('conv-' || CAST(user_id AS VARCHAR), '[12]$')
                  THEN 'support_ticket'
             END AS cls
      FROM events
    )
    SELECT conv_id, 1 AS section_id, MIN(cls) AS classification,
           string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS turn_idxs,
           COUNT(*) AS n_turns, CAST(1.0 AS DOUBLE) AS confidence
    FROM named WHERE cls IS NOT NULL GROUP BY conv_id
    """,
)
def name_regex_fastpath(spark, sf_dir):
    """Document-name regex fast path
    (``classification/service.py:215-232,1805-1844``): conversations
    whose name matches a configured class regex classify wholesale (one
    section, confidence 1.0) and skip the classifier; FIRST matching
    pattern wins — names ending in 1 match both patterns here and must
    take 'invoice'."""
    e = _t(spark, sf_dir, "events")
    turns = e.select(
        F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
    )
    matched, _unmatched = seg.name_regex_sections(
        turns, [("invoice", "1$"), ("support_ticket", "[12]$")]
    )
    return matched.select(
        "conv_id",
        "section_id",
        "classification",
        F.array_join(F.transform("turn_idxs", lambda x: x.cast("string")), ",").alias(
            "turn_idxs"
        ),
        "n_turns",
        "confidence",
    )


_EVENT_CLASS_SQL = """
    CASE event_type WHEN 'click' THEN 'invoice'
                    WHEN 'view' THEN 'support_ticket'
                    WHEN 'error' THEN 'tech_note'
                    WHEN 'purchase' THEN 'sales_lead'
                    ELSE 'bogus_class' END
"""


@q(
    "limited_vote_propagate",
    f"""
    WITH turns AS (
      SELECT CAST(user_id AS VARCHAR) AS conv_id,
             CAST(event_id AS INT) AS turn_idx,
             {_EVENT_CLASS_SQL} AS cls,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      FROM events
    ), votes AS (
      SELECT conv_id, cls, COUNT(*) AS n, MIN(turn_idx) AS first_turn
      FROM turns WHERE rn <= 5
        AND cls IN ('invoice', 'support_ticket', 'sales_lead', 'tech_note')
      GROUP BY conv_id, cls
    ), winner AS (
      SELECT conv_id, cls FROM (
        SELECT conv_id, cls,
               row_number() OVER (PARTITION BY conv_id
                                  ORDER BY n DESC, first_turn ASC, cls ASC) AS rk
        FROM votes
      ) WHERE rk = 1
    )
    SELECT t.conv_id, t.turn_idx,
           COALESCE(w.cls, 'unclassified') AS classification
    FROM turns t LEFT JOIN winner w ON t.conv_id = w.conv_id
    """,
)
def limited_vote_propagate(spark, sf_dir):
    """Limited-page classification with propagation
    (``classification/service.py:236-362``): only the first 5 turns per
    conversation vote (invalid classes excluded, GitHub #167 tie-break),
    the winner propagates to every turn."""
    e = _t(spark, sf_dir, "events")
    cls = (
        F.when(F.col("event_type") == "click", "invoice")
        .when(F.col("event_type") == "view", "support_ticket")
        .when(F.col("event_type") == "error", "tech_note")
        .when(F.col("event_type") == "purchase", "sales_lead")
        .otherwise("bogus_class")
    )
    turns = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        cls.alias("classification"),
    )
    return seg.limit_and_propagate(turns, max_turns=5)


@q(
    "sections_page_events",
    """
    SELECT CAST(user_id AS VARCHAR) AS conv_id,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS INT)
             AS section_id,
           event_type AS classification,
           CAST(event_id AS VARCHAR) AS turn_idxs,
           CAST(1 AS BIGINT) AS n_turns,
           CAST(FLOOR(value) AS DOUBLE) AS confidence
    FROM events
    """,
)
def sections_page_events(spark, sf_dir):
    """Per-page section strategy (``classification/service.py:2096-2136``):
    every turn is its own section, numbered in turn order."""
    out = seg.sections(_event_turns(spark, sf_dir), "page")
    return out.select(
        "conv_id",
        "section_id",
        "classification",
        F.array_join(F.transform("turn_idxs", lambda x: x.cast("string")), ",").alias(
            "turn_idxs"
        ),
        "n_turns",
        F.col("confidence"),
    )


@q(
    "asof_join_events",
    """
    WITH l AS (
      SELECT user_id, event_id, ts FROM events WHERE event_id % 5 = 0
    ), r AS (
      SELECT user_id, ts, MAX(event_id) AS r_event
      FROM events WHERE event_id % 5 <> 0 GROUP BY user_id, ts
    )
    SELECT l.user_id, l.event_id, r.r_event AS asof_r_event
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_join_events(spark, sf_dir):
    """As-of join (a built-in Spark lacks): every 5th event picks the
    most recent OTHER event at-or-before its timestamp per user —
    implemented as the one-shuffle union-sort-window composition and
    verified against DuckDB's native ASOF LEFT JOIN."""
    from ..operators.temporal import asof_join

    e = _t(spark, sf_dir, "events")
    left = e.where(F.col("event_id") % 5 == 0).select("user_id", "event_id", "ts")
    right = (
        e.where(F.col("event_id") % 5 != 0)
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("r_event"))
    )
    out = asof_join(left, right, on="ts", by=["user_id"], value_cols=["r_event"])
    return out.select("user_id", "event_id", F.col("asof_r_event"))


@q(
    "asof_join_events_chunked",
    """
    WITH l AS (
      SELECT user_id, event_id, ts FROM events WHERE event_id % 5 = 0
    ), r AS (
      SELECT user_id, ts, MAX(event_id) AS r_event
      FROM events WHERE event_id % 5 <> 0 GROUP BY user_id, ts
    )
    SELECT l.user_id, l.event_id, r.r_event AS asof_r_event
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_join_events_chunked(spark, sf_dir):
    """SAME semantics and oracle as asof_join_events, but through the
    round-3 skew-hardened TWO-PASS path (``chunk_seconds``): the carry
    window partitions by (user, time-chunk) and a per-chunk spine
    propagates the carry — driver-level proof that the hot-key-parallel
    form is exactly equivalent to the one-pass form."""
    from ..operators.temporal import asof_join

    e = _t(spark, sf_dir, "events")
    left = e.where(F.col("event_id") % 5 == 0).select("user_id", "event_id", "ts")
    right = (
        e.where(F.col("event_id") % 5 != 0)
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("r_event"))
    )
    out = asof_join(
        left, right, on="ts", by=["user_id"], value_cols=["r_event"],
        chunk_seconds=6 * 3600,
    )
    return out.select("user_id", "event_id", F.col("asof_r_event"))


@q(
    "range_join_windows",
    """
    WITH i AS (
      SELECT user_id, event_id AS interval_id, ts AS start_ts,
             ts + INTERVAL 2 HOUR AS end_ts
      FROM events WHERE event_id % 10 = 0
    )
    SELECT i.user_id, i.interval_id, COUNT(p.event_id) AS n_points
    FROM i JOIN events p
      ON i.user_id = p.user_id AND p.ts >= i.start_ts AND p.ts <= i.end_ts
    GROUP BY i.user_id, i.interval_id
    """,
)
def range_join_windows(spark, sf_dir):
    """Range join (interval containment): 2-hour windows anchored at
    every 10th event count the user's events inside them.  The Spark
    side bucketizes both sides onto an hour grid so the join is an
    equi-join + exact filter (per-key cross-products never form); the
    oracle states the plain inequality semantics."""
    from ..operators.temporal import range_join

    e = _t(spark, sf_dir, "events")
    intervals = e.where(F.col("event_id") % 10 == 0).select(
        "user_id",
        F.col("event_id").alias("interval_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    points = e.select("user_id", F.col("event_id").alias("point_id"), F.col("ts"))
    joined = range_join(
        intervals, points, ["user_id"], "start_ts", "end_ts", "ts", bucket_seconds=3600
    )
    return joined.groupBy("user_id", "interval_id").agg(
        F.count("point_id").alias("n_points")
    )


_THRESHOLDS = [("click", 0.4), ("view", 0.2), ("error", 0.9)]


@q(
    "alerts_per_class_threshold",
    """
    WITH thr(classification, threshold) AS (
      VALUES ('click', 0.4), ('view', 0.2), ('error', 0.9)
    ), turns AS (
      SELECT CAST(user_id AS VARCHAR) AS conv_id,
             CAST(event_id AS INT) AS turn_idx,
             event_type AS classification,
             value / 100.0 AS confidence
      FROM events
    )
    SELECT conv_id, turn_idx, t.classification, confidence,
           COALESCE(thr.threshold, 0.5) AS confidence_threshold
    FROM turns t LEFT JOIN thr ON t.classification = thr.classification
    WHERE confidence < COALESCE(thr.threshold, 0.5)
    """,
)
def alerts_per_class_threshold(spark, sf_dir):
    """Per-class confidence thresholds from a broadcast dim — the
    ``x-aws-idp-confidence-threshold`` analog (``assessment/service.py:181-290``)."""
    e = _t(spark, sf_dir, "events")
    turns = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("event_type").alias("classification"),
        (F.col("value") / 100.0).alias("confidence"),
    )
    thr = spark.createDataFrame(_THRESHOLDS, "classification string, threshold double")
    return alerts_with_thresholds(turns, thr, default_threshold=0.5)


_EVAL_CONFIG = [
    # classification, attribute_name, evaluation_method, threshold, weight
    ("1-URGENT", "status", "EXACT", 0.8, 1.0),
    ("1-URGENT", "totalprice", "NUMERIC_EXACT", 0.8, 2.0),
    ("1-URGENT", "orderdate", "FUZZY", 0.7, 0.5),
    ("2-HIGH", "status", "EXACT", 0.8, 1.0),
    ("2-HIGH", "totalprice", "NUMERIC_EXACT", 0.8, 2.0),
    ("2-HIGH", "orderdate", "FUZZY", 0.7, 0.5),
]


# Shared attr-eval SQL (stickler config compare) — reused by the
# doc-rollup oracle; `actual` rides along for the fp accounting.
_STICKLER_SQL_FULL = f"""
    WITH cfg(classification, attribute_name, evaluation_method, threshold, weight) AS (
      VALUES ('1-URGENT','status','EXACT',0.8,1.0),
             ('1-URGENT','totalprice','NUMERIC_EXACT',0.8,2.0),
             ('1-URGENT','orderdate','FUZZY',0.7,0.5),
             ('2-HIGH','status','EXACT',0.8,1.0),
             ('2-HIGH','totalprice','NUMERIC_EXACT',0.8,2.0),
             ('2-HIGH','orderdate','FUZZY',0.7,0.5)
    ), pairs AS (
      SELECT o_orderkey AS doc_id, o_orderpriority AS classification,
             a.attribute_name, a.expected, a.actual
      FROM orders, LATERAL (VALUES
        ('status', o_orderstatus, lower(o_orderstatus) || '.'),
        ('totalprice', printf('$%.2f', o_totalprice),
                       printf('%.2f', o_totalprice
                              + CASE WHEN o_orderkey % 20 = 10 THEN 1 ELSE 0 END)),
        ('orderdate', CAST(o_orderdate AS VARCHAR),
                      substring(CAST(o_orderdate AS VARCHAR), 1, 8)),
        ('extra_field', NULL, 'surprise-value')
      ) AS a(attribute_name, expected, actual)
      WHERE o_orderkey % 10 = 0
    ), joined AS (
      SELECT p.*, COALESCE(c.evaluation_method, 'EXACT') AS evaluation_method,
             COALESCE(c.threshold, 0.8) AS threshold,
             COALESCE(c.weight, 1.0) AS weight,
             c.evaluation_method IS NULL AS auto_configured
      FROM pairs p LEFT JOIN cfg c
        ON p.classification = c.classification
       AND p.attribute_name = c.attribute_name
    ), scored AS (
      SELECT *,
        (expected IS NULL OR trim(expected) = '') AND (actual IS NULL OR trim(actual) = '')
          AS both_empty,
        {_NORM_SQL.format(x="COALESCE(expected, '')")} AS ne,
        {_NORM_SQL.format(x="COALESCE(actual, '')")}   AS na,
        TRY_CAST(regexp_replace(expected, '[$,()\\s]', '', 'g') AS DOUBLE) AS nume,
        TRY_CAST(regexp_replace(actual,   '[$,()\\s]', '', 'g') AS DOUBLE) AS numa
      FROM joined
    ), final AS (
      SELECT doc_id, classification, attribute_name, evaluation_method,
             threshold, weight, auto_configured, actual,
             auto_configured AND (expected IS NULL OR trim(expected) = '')
               AND actual IS NOT NULL AND trim(actual) <> '' AS unexpected,
             CASE evaluation_method
               WHEN 'NUMERIC_EXACT' THEN
                 CASE WHEN both_empty THEN TRUE
                      WHEN nume IS NOT NULL AND numa IS NOT NULL THEN nume = numa
                      ELSE ne = na END
               WHEN 'FUZZY' THEN
                 CASE WHEN both_empty THEN TRUE
                      WHEN length(ne) = 0 OR length(na) = 0 THEN FALSE
                      ELSE 1.0 - CAST(levenshtein(ne, na) AS DOUBLE)
                                 / greatest(length(ne), length(na)) >= threshold END
               ELSE both_empty OR ne = na
             END AS matched,
             CASE WHEN evaluation_method = 'FUZZY' THEN
               ROUND(CASE WHEN both_empty THEN 1.0
                          WHEN length(ne) = 0 OR length(na) = 0 THEN 0.0
                          ELSE 1.0 - CAST(levenshtein(ne, na) AS DOUBLE)
                               / greatest(length(ne), length(na)) END, 6)
             ELSE NULL END AS fuzzy
      FROM scored
    )
    SELECT doc_id, classification, attribute_name, evaluation_method,
           threshold, weight, auto_configured, actual, unexpected, matched,
           COALESCE(fuzzy, CASE WHEN matched THEN 1.0 ELSE 0.0 END) AS score
    FROM final
    """


def _stickler_attr_frame(spark, sf_dir):
    """Config-driven structured compare (``evaluation/service.py:363-612``):
    per-class attribute config drives comparator/threshold/weight;
    unconfigured attributes get auto-config defaults; fields present only
    in the actual output are flagged unexpected."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 10 == 0)
    attrs = [
        (
            "status",
            F.col("o_orderstatus"),
            F.concat(F.lower("o_orderstatus"), F.lit(".")),
        ),
        (
            "totalprice",
            F.concat(F.lit("$"), F.format_string("%.2f", F.col("o_totalprice"))),
            F.format_string(
                "%.2f",
                F.col("o_totalprice")
                + F.when(F.col("o_orderkey") % 20 == 10, 1).otherwise(0),
            ),
        ),
        (
            "orderdate",
            F.col("o_orderdate").cast("string"),
            F.substring(F.col("o_orderdate").cast("string"), 1, 8),
        ),
        ("extra_field", F.lit(None).cast("string"), F.lit("surprise-value")),
    ]
    # ONE scan: per-row array of attribute structs, exploded — a 4-way
    # union would re-scan orders once per attribute
    attr_arr = F.array(
        *[
            F.struct(
                F.lit(name).alias("attribute_name"),
                exp.cast("string").alias("expected"),
                act.cast("string").alias("actual"),
            )
            for name, exp, act in attrs
        ]
    )
    pairs = o.select(
        F.col("o_orderkey").alias("doc_id"),
        F.col("o_orderpriority").alias("classification"),
        F.explode(attr_arr).alias("a"),
    ).select("doc_id", "classification", "a.attribute_name", "a.expected", "a.actual")
    config = spark.createDataFrame(
        _EVAL_CONFIG,
        "classification string, attribute_name string, evaluation_method string, "
        "threshold double, weight double",
    )
    return configured_attribute_eval(pairs, config)



@q(
    "stickler_config_eval",
    f"""
    SELECT doc_id, classification, attribute_name, evaluation_method,
           threshold, weight, auto_configured, unexpected, matched, score
    FROM ({_STICKLER_SQL_FULL})
    """,
)
def stickler_config_eval(spark, sf_dir):
    """Config-driven structured compare (``evaluation/service.py:363-612``)
    — see :func:`_stickler_attr_frame` for the shared construction."""
    return _stickler_attr_frame(spark, sf_dir).select(
        "doc_id",
        "classification",
        "attribute_name",
        "evaluation_method",
        "threshold",
        "weight",
        "auto_configured",
        "unexpected",
        "matched",
        "score",
    )


_ROLLUP_SQL = """
    , flags AS (
      SELECT doc_id,
             CASE WHEN matched THEN 1 ELSE 0 END AS tp,
             CASE WHEN NOT matched
                   AND NOT (actual IS NULL OR trim(actual) = '')
                  THEN 1 ELSE 0 END AS fp,
             CASE WHEN NOT matched THEN 1 ELSE 0 END AS fn,
             0 AS tn, score, weight
      FROM attr
    ), agg AS (
      SELECT doc_id,
             CAST(SUM(tp) AS DOUBLE) AS tp, CAST(SUM(fp) AS DOUBLE) AS fp,
             CAST(SUM(fn) AS DOUBLE) AS fn, CAST(SUM(tn) AS DOUBLE) AS tn,
             SUM(score * weight) AS sw, SUM(weight) AS w,
             COUNT(*) AS n_attributes
      FROM flags GROUP BY doc_id
    ), m AS (
      SELECT *,
             CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 0.0 END AS p,
             CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE 0.0 END AS r
      FROM agg
    )
    SELECT doc_id,
           ROUND(p, 6) AS precision,
           ROUND(r, 6) AS recall,
           ROUND(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r) ELSE 0.0 END, 6) AS f1,
           ROUND(CASE WHEN tp + fp + fn + tn > 0
                      THEN (tp + tn) / (tp + fp + fn + tn) ELSE 0.0 END, 6) AS accuracy,
           ROUND(CASE WHEN fp + tn > 0 THEN fp / (fp + tn) ELSE 0.0 END, 6)
             AS false_alarm_rate,
           ROUND(CASE WHEN fp + tp > 0 THEN fp / (fp + tp) ELSE 0.0 END, 6)
             AS false_discovery_rate,
           ROUND(CASE WHEN w > 0 THEN sw / w ELSE 0.0 END, 6)
             AS weighted_overall_score,
           n_attributes
    FROM m
"""


@q(
    "eval_rollup_docs",
    "WITH attr AS (" + _STICKLER_SQL_FULL + ")" + _ROLLUP_SQL,
)
def eval_rollup_docs(spark, sf_dir):
    """Attribute→document metric rollup (``evaluation/service.py:1564-1902``):
    the stickler attribute evaluation rolled up per document — tp/fp/fn
    accounting (unmatched-with-actual = FP+FN, unmatched-missing = FN),
    P/R/F1/accuracy/FAR/FDR plus the weight-averaged overall score."""
    from ..operators.evaluation import rollup_metrics

    attr = _stickler_attr_frame(spark, sf_dir)
    return rollup_metrics(attr, ["doc_id"])


_PERTURB_SQL = "CASE WHEN event_id % 7 = 3 THEN 'zzz' ELSE event_type END"


@q(
    "page_classification_accuracy_events",
    f"""
    SELECT ROUND(AVG(CASE WHEN {_PERTURB_SQL} = event_type
                          THEN 1.0 ELSE 0.0 END), 6)
             AS page_classification_accuracy,
           COUNT(*) AS n_turns
    FROM events
    """,
)
def page_classification_accuracy_events(spark, sf_dir):
    """Per-turn classification accuracy
    (``evaluation/doc_split_classification_metrics.py:19-34``) between a
    perturbed prediction and the gold labels."""
    from ..operators.evaluation import page_classification_accuracy

    gold = _event_turns(spark, sf_dir)
    pred = gold.withColumn(
        "classification",
        F.when(F.col("turn_idx") % 7 == 3, F.lit("zzz")).otherwise(
            F.col("classification")
        ),
    )
    return page_classification_accuracy(pred, gold)


def _split_bio_sql(cls_expr: str) -> str:
    """Gaps-and-islands sections over events with a parametric class
    expression, ending in per-conv ordered/unordered section signatures."""
    return f"""
      SELECT conv_id,
             string_agg(sig, '|' ORDER BY section_id) AS ordered_sig,
             string_agg(sig, '|' ORDER BY sig)        AS unordered_sig
      FROM (
        SELECT conv_id, section_id,
               MIN(cls) || '@' ||
               string_agg(CAST(turn_idx AS VARCHAR), ',' ORDER BY turn_idx) AS sig
        FROM (
          SELECT conv_id, turn_idx, cls,
                 CAST(SUM(flag) OVER (PARTITION BY conv_id ORDER BY turn_idx
                      ROWS UNBOUNDED PRECEDING) AS INT) AS section_id
          FROM (
            SELECT CAST(user_id AS VARCHAR) AS conv_id,
                   CAST(event_id AS INT) AS turn_idx,
                   {cls_expr} AS cls,
                   CASE WHEN lag({cls_expr}) OVER
                          (PARTITION BY user_id ORDER BY event_id) IS NULL
                        OR lag({cls_expr}) OVER
                          (PARTITION BY user_id ORDER BY event_id) <> {cls_expr}
                        THEN 1 ELSE 0 END AS flag
            FROM events
          )
        ) GROUP BY conv_id, section_id
      ) GROUP BY conv_id
    """


@q(
    "split_eval_metrics",
    f"""
    WITH g AS ({_split_bio_sql("event_type")}),
         p AS ({_split_bio_sql(_PERTURB_SQL)})
    SELECT ROUND(AVG(CASE WHEN p.ordered_sig = g.ordered_sig
                          THEN 1.0 ELSE 0.0 END), 6) AS split_accuracy_with_order,
           ROUND(AVG(CASE WHEN p.unordered_sig = g.unordered_sig
                          THEN 1.0 ELSE 0.0 END), 6) AS split_accuracy_without_order,
           COUNT(*) AS n_conversations
    FROM g JOIN p USING (conv_id)
    """,
)
def split_eval_metrics(spark, sf_dir):
    """Doc-split accuracy with/without order
    (``evaluation/doc_split_classification_metrics.py:19-260``): BIO
    sections from perturbed vs gold labels, compared as ordered section
    lists and as unordered section multisets."""
    from ..operators.evaluation import split_metrics

    gold_turns = _event_turns(spark, sf_dir)
    pred_turns = gold_turns.withColumn(
        "classification",
        F.when(F.col("turn_idx") % 7 == 3, F.lit("zzz")).otherwise(
            F.col("classification")
        ),
    )
    gold = seg.sections(gold_turns, "llm_determined")
    pred = seg.sections(pred_turns, "llm_determined")
    return split_metrics(pred, gold)


@q(
    "payload_kind_sniff",
    """
    SELECT doc_id,
           CASE CAST(doc_id % 4 AS INT)
                WHEN 0 THEN 'html'
                WHEN 1 THEN 'layout'
                ELSE 'plain' END AS payload_kind
    FROM documents
    """,
)
def payload_kind_sniff(spark, sf_dir):
    """File-type sniffing (``ocr/service.py:1677-1723``): magic-prefix +
    parse-validation dispatch of the extraction kernel, over constructed
    payloads — html, a VALID layout JSON, a bracket-but-not-layout
    string (must fall back to plain), and plain text."""
    from ..operators.extract import payload_kind_udf

    d = _t(spark, sf_dir, "documents")
    payload = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("<div>"), F.col("text")))
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit('[{"bbox": [0, 0, 10, 10], "text": "'),
                F.col("lang"),
                F.lit('"}]'),
            ),
        )
        .when(F.col("doc_id") % 4 == 2, F.concat(F.lit("[not layout "), F.col("lang")))
        .otherwise(F.concat(F.lit("plain "), F.col("text")))
    )
    return d.select("doc_id", payload_kind_udf()(payload).alias("payload_kind"))


@q(
    "judge_rule_cascade",
    f"""
    WITH pairs AS (
      SELECT o_orderkey,
             o_orderpriority AS a,
             CASE CAST(o_orderkey % 3 AS INT)
                  WHEN 0 THEN lower(o_orderpriority) || '.'
                  WHEN 1 THEN substring(o_orderpriority, 1, 4)
                  ELSE 'totally different' END AS b
      FROM orders WHERE o_orderkey % 4 = 0
    ), scored AS (
      SELECT o_orderkey, a, b,
             {_NORM_SQL.format(x="COALESCE(a, '')")} AS na,
             {_NORM_SQL.format(x="COALESCE(b, '')")} AS nb,
             TRY_CAST(regexp_replace(a, '[$,()\\s]', '', 'g') AS DOUBLE) AS numa,
             TRY_CAST(regexp_replace(b, '[$,()\\s]', '', 'g') AS DOUBLE) AS numb
      FROM pairs
    ), verdict AS (
      SELECT o_orderkey,
             na = nb AS exact_m,
             numa IS NOT NULL AND numb IS NOT NULL AND numa = numb AS numeric_m,
             CASE WHEN length(na) = 0 OR length(nb) = 0 THEN 0.0
                  ELSE 1.0 - CAST(levenshtein(na, nb) AS DOUBLE)
                       / greatest(length(na), length(nb)) END AS fscore
      FROM scored
    )
    SELECT o_orderkey,
           exact_m OR numeric_m OR fscore >= 0.8 AS match,
           ROUND(CASE WHEN exact_m OR numeric_m THEN 1.0 ELSE fscore END, 6) AS score,
           CASE WHEN exact_m THEN 'exact match after normalization'
                WHEN numeric_m THEN 'numeric equality after currency normalization'
                WHEN fscore >= 0.8 THEN 'fuzzy similarity at or above threshold'
                ELSE 'below similarity threshold' END AS reason
    FROM verdict
    """,
)
def judge_rule_cascade(spark, sf_dir):
    """LLM-judge output contract (``comparator.py:596-833``) from the
    deterministic rule cascade: punctuation-only drift judges exact,
    truncation judges by fuzzy score, disjoint text is rejected — each
    with the reference's {match, score, reason} shape."""
    from ..operators.evaluation import compare_judge

    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 4 == 0)
    b = (
        F.when(F.col("o_orderkey") % 3 == 0, F.concat(F.lower("o_orderpriority"), F.lit(".")))
        .when(F.col("o_orderkey") % 3 == 1, F.substring("o_orderpriority", 1, 4))
        .otherwise(F.lit("totally different"))
    )
    res = o.select(
        "o_orderkey", compare_judge(F.col("o_orderpriority"), b, 0.8).alias("j")
    )
    return res.select(
        "o_orderkey",
        F.col("j.match").alias("match"),
        F.col("j.score").alias("score"),
        F.col("j.reason").alias("reason"),
    )


@q(
    "hungarian_list_compare",
    """
    WITH pairs AS (
      SELECT e.p_partkey, e.p_name AS en, a.p_name AS an
      FROM part e JOIN part a ON a.p_partkey = e.p_partkey + 1
      WHERE e.p_partkey % 7 = 0
    ), ew AS (
      SELECT p_partkey, w, COUNT(*) AS c FROM (
        SELECT p_partkey, unnest(string_split(en, ' ')) AS w FROM pairs
      ) GROUP BY p_partkey, w
    ), aw AS (
      SELECT p_partkey, w, COUNT(*) AS c FROM (
        SELECT p_partkey, unnest(string_split(an, ' ')) AS w FROM pairs
      ) GROUP BY p_partkey, w
    ), inter AS (
      SELECT ew.p_partkey, CAST(SUM(LEAST(ew.c, aw.c)) AS INT) AS tp
      FROM ew JOIN aw ON ew.p_partkey = aw.p_partkey AND ew.w = aw.w
      GROUP BY ew.p_partkey
    )
    SELECT p.p_partkey,
           COALESCE(i.tp, 0) AS tp,
           CAST(len(string_split(p.an, ' ')) - COALESCE(i.tp, 0) AS INT) AS fp,
           ROUND(CAST(COALESCE(i.tp, 0) AS DOUBLE)
                 / LEAST(len(string_split(p.en, ' ')), len(string_split(p.an, ' '))),
                 6) AS avg_score
    FROM pairs p LEFT JOIN inter i ON p.p_partkey = i.p_partkey
    """,
)
def hungarian_list_compare(spark, sf_dir):
    """Hungarian list compare with an EXACT item comparator has a closed
    form a SQL oracle can check: optimal assignment total = multiset
    word intersection (tp), assigned pairs = min(|expected|, |actual|),
    avg_score = tp / assigned (``comparator.py:240-303``)."""
    p = _t(spark, sf_dir, "part")
    a = p.where(F.col("p_partkey") % 7 == 0).select(
        "p_partkey", F.split("p_name", " ").alias("expected")
    )
    b = p.select(
        (F.col("p_partkey") - 1).alias("p_partkey"), F.split("p_name", " ").alias("actual")
    )
    pairs = a.join(b, "p_partkey")
    res = pairs.withColumn("r", hungarian_udf("EXACT")(F.col("expected"), F.col("actual")))
    return res.select(
        "p_partkey",
        F.col("r.tp").alias("tp"),
        F.col("r.fp").alias("fp"),
        F.round(F.col("r.avg_score"), 6).alias("avg_score"),
    )


_HASH_U = (
    "CAST(CAST('0x' || substring(md5(CAST({k} AS VARCHAR)), 1, 8) AS BIGINT) "
    "AS DOUBLE) / 4294967296.0"
)


@q(
    "hash_split_conversations",
    f"""
    SELECT doc_id, source,
           CASE WHEN {_HASH_U.format(k="source")} < 0.8 THEN 'train'
                WHEN {_HASH_U.format(k="source")} < 0.9 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def hash_split_conversations(spark, sf_dir):
    """Deterministic train/val/test split keyed on the SOURCE (whole
    sources stay in one split — no leakage), reproducible in any engine
    with md5: the split column is recomputable from the row alone."""
    from ..operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return hash_split(d, "source", {"train": 0.8, "val": 0.1, "test": 0.1})


@q(
    "stratified_hash_sample",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {_HASH_U.format(k="doc_id")} <
          CASE lang WHEN 'en' THEN 0.25 WHEN 'de' THEN 0.5 ELSE 0.1 END
    """,
)
def stratified_hash_sample_docs(spark, sf_dir):
    """Per-language deterministic downsampling (the corpus-balancing
    step of a curation pipeline), reproducible across engines/reruns."""
    from ..operators.sampling import stratified_hash_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_hash_sample(
        d, "doc_id", "lang", {"en": 0.25, "de": 0.5}, default_fraction=0.1
    )


@q(
    "temperature_mix_sample",
    f"""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total, SUM(sqrt(n)) AS denom FROM c),
    r AS (SELECT c.lang,
                 ROUND(LEAST(1.0, 0.5 * t.total * sqrt(c.n) / t.denom / c.n), 6)
                   AS rate
          FROM c, t)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN r ON r.lang = d.lang
    WHERE {_HASH_U.format(k="d.doc_id")} < r.rate
    """,
)
def temperature_mix_sample_docs(spark, sf_dir):
    """Temperature-balanced language mixing (mBERT/XLM-R alpha=0.5
    rebalance): per-language keep rates proportional to sqrt(n) rather
    than n, so low-resource languages are upsampled relative to their
    corpus share while the kept total targets 50%.  sqrt is correctly
    rounded under IEEE-754 in both engines and the rate is quantized to
    6dp, so the keep decision is reproducible cross-engine.  Plan: one
    dim-sized language count, a broadcast 1-row (total, denom), and a
    broadcast rate join — one corpus scan."""
    from ..operators.sampling import temperature_mix_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_mix_sample(
        d, "doc_id", "lang", target_fraction=0.5, alpha=0.5
    ).select("doc_id", "lang")


@q(
    "pack_token_windows",
    """
    WITH t AS (
      SELECT doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_chars AS cum
      FROM documents
    )
    SELECT doc_id, CAST(FLOOR(CAST(cum AS DOUBLE) / 4096) AS INT) AS window_id
    FROM t
    """,
)
def pack_token_windows_docs(spark, sf_dir):
    """Sequence packing into ~4096-token context windows per source
    feed: exclusive running sum → window id, one window shuffle."""
    from ..operators.sampling import pack_token_windows

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return pack_token_windows(
        d, "doc_id", "n_chars", 4096, part_col="source"
    ).select("doc_id", "window_id")


@q(
    "near_dup_clusters",
    """
    WITH RECURSIVE t AS (
      SELECT doc_id, source,
             list_distinct(list_transform(
               generate_series(1, len(regexp_split_to_array(trim(lower(text)), '\\s+')) - 1),
               i -> regexp_split_to_array(trim(lower(text)), '\\s+')[i] || ' ' ||
                    regexp_split_to_array(trim(lower(text)), '\\s+')[i+1]
             )) AS sh
      FROM documents WHERE doc_id % 4 = 0
    ), p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
    ), und AS (
      SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p
    ), closure(a, b) AS (
      SELECT s, d FROM und
      UNION
      SELECT c.a, u.d FROM closure c JOIN und u ON c.b = u.s
    )
    SELECT a AS id, LEAST(a, MIN(b)) AS cluster_id
    FROM closure GROUP BY a
    """,
)
def near_dup_clusters(spark, sf_dir):
    """Duplicate clusters from near-dup pairs: Spark labels the
    components in one Arrow task (``duplicate_clusters``: min-label
    hooking and pointer jumping over numpy arrays, exact for any
    component shape); the oracle computes the same components by
    recursive transitive closure — feasible exactly because fixture
    components are small."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 0)
    from ..operators import dedup

    pairs = dedup.ngram_jaccard_pairs(d, "source", n=2, threshold=0.5)
    return dedup.duplicate_clusters(pairs)


@q(
    "training_data_pipeline",
    f"""
    WITH RECURSIVE scored AS (
      SELECT doc_id, lang, source, text,
             len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                             t -> t <> '')) AS n_tokens,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
    ), kept AS (
      SELECT * FROM scored WHERE n_tokens >= 20 AND lang IN ('en', 'de', 'fr')
    ), exact_dedup AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM kept
      ) WHERE rn = 1
    ), sh AS (
      SELECT doc_id, source,
             list_distinct(list_transform(
               generate_series(1, len(regexp_split_to_array(trim(lower(text)), '\\s+')) - 1),
               i -> regexp_split_to_array(trim(lower(text)), '\\s+')[i] || ' ' ||
                    regexp_split_to_array(trim(lower(text)), '\\s+')[i+1]
             )) AS g
      FROM exact_dedup
    ), p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
            / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.5
    ), und AS (
      SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p
    ), closure(a, b) AS (
      SELECT s, d FROM und
      UNION
      SELECT c.a, u.d FROM closure c JOIN und u ON c.b = u.s
    ), losers AS (
      SELECT a AS doc_id FROM closure GROUP BY a HAVING a <> LEAST(a, MIN(b))
    ), canon AS (
      SELECT e.* FROM exact_dedup e LEFT JOIN losers l ON e.doc_id = l.doc_id
      WHERE l.doc_id IS NULL
    )
    SELECT CASE WHEN {_HASH_U.format(k="source")} < 0.8 THEN 'train'
                WHEN {_HASH_U.format(k="source")} < 0.9 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_tokens), 4) AS avg_tokens
    FROM canon GROUP BY 1
    """,
)
def training_data_pipeline(spark, sf_dir):
    """Round-2 capstone: the full training-data preparation pipeline in
    one plan — quality gate (min tokens) → language allowlist → exact
    dedup (fingerprint, keep lowest id) → NEAR-dup collapse (n-gram
    Jaccard pairs → connected components → keep canonical) →
    conversation-safe deterministic split → per-split corpus stats.
    Every stage is an operator this engine ships; the DuckDB twin
    (recursive closure and all) verifies the whole composition."""
    from pyspark.sql import Window

    from ..operators import textstats
    from ..operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        "source",
        "text",
        textstats.ws_token_count("text").alias("n_tokens"),
        textstats.fingerprint_md5("text").alias("fp"),
    )
    kept = scored.where(
        (F.col("n_tokens") >= 20) & F.col("lang").isin("en", "de", "fr")
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    exact_dedup = (
        kept.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")
    )
    from ..operators import dedup as dd

    pairs = dd.ngram_jaccard_pairs(exact_dedup, "source", n=2, threshold=0.5)
    canon = dd.dedup_keep_canonical(exact_dedup, pairs)
    split = hash_split(canon, "source", {"train": 0.8, "val": 0.1, "test": 0.1})
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
    )


@q(
    "multimodal_features",
    """
    SELECT doc_id AS media_id,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS modality,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS md5
    FROM documents
    """,
)
def multimodal_features_docs(spark, sf_dir):
    """Multimodal payload plumbing over a deterministic binary payload
    (UTF-8 document bytes): the Arrow-batched feature kernel runs for
    real; the oracle verifies the byte plumbing via the one cross-engine
    digest (md5) plus byte counts."""
    media = multimodal.media_from_documents(_t(spark, sf_dir, "documents"))
    return multimodal.extract_features(media, dim=8).select(
        "media_id", "modality", "n_bytes", "md5"
    )


@q(
    "image_decode_stats",
    """
    WITH dims AS (
      SELECT doc_id, CAST(16 + doc_id % 16 AS INT) AS width,
             CAST(12 + doc_id % 8 AS INT) AS height
      FROM documents
    ), g AS (
      SELECT r.g AS r, c.g AS c
      FROM generate_series(0, 19) r(g), generate_series(0, 31) c(g)
    )
    SELECT d.doc_id AS media_id, d.width, d.height,
           ROUND(AVG(CAST((d.doc_id*31 + g.r*7 + g.c*13) % 256 AS DOUBLE)), 4)
             AS mean_gray
    FROM dims d JOIN g ON g.r < d.height AND g.c < d.width
    GROUP BY 1, 2, 3
    """,
)
def image_decode_stats(spark, sf_dir):
    """REAL image decode (round-3): deterministic P5/PGM payloads built
    from doc ids run through the pure-numpy decoder + grayscale stats
    kernel (``kernel/image.py``, mirroring the reference's image
    preprocessing ``image/__init__.py:14-174``); the oracle recomputes
    width/height/mean analytically from the pixel formula.  Otsu
    binarization and the never-upscale resize are covered by the pytest
    suite (not SQL-expressible)."""
    media = multimodal.synth_pgm_media(_t(spark, sf_dir, "documents"))
    return multimodal.image_stats(media).select(
        "media_id",
        "width",
        "height",
        F.round("mean_gray", 4).alias("mean_gray"),
    )


@q(
    "audio_decode_stats",
    """
    WITH dims AS (
      SELECT doc_id, CAST(256 + doc_id % 128 AS INT) AS n_samples FROM documents
    ), g AS (
      SELECT i.g AS i FROM generate_series(0, 383) i(g)
    ), samp AS (
      SELECT d.doc_id, d.n_samples, g.i,
             ((d.doc_id*7 + 13*g.i) % 2003 - 1001) AS v,
             CASE WHEN g.i > 0
                  THEN ((d.doc_id*7 + 13*(g.i-1)) % 2003 - 1001) END AS vprev
      FROM dims d JOIN g ON g.i < d.n_samples
    )
    SELECT doc_id AS media_id, n_samples,
           CAST(FLOOR(n_samples * 1000 / 8000) AS INT) AS duration_ms,
           ROUND(sqrt(AVG((v/32768.0)*(v/32768.0))), 6) AS rms,
           ROUND(MAX(abs(v))/32768.0, 6) AS peak,
           CAST(SUM(CASE WHEN i > 0 AND ((v >= 0) <> (vprev >= 0))
                         THEN 1 ELSE 0 END) AS INT) AS zero_crossings
    FROM samp GROUP BY 1, 2
    """,
)
def audio_decode_stats(spark, sf_dir):
    """REAL audio decode (round-3): deterministic RIFF/PCM WAV payloads
    run through the pure-numpy decoder + feature kernel
    (``kernel/audio.py``); the oracle recomputes duration/RMS/peak/
    zero-crossings analytically from the sample formula — the audio leg
    of the multimodal data model, driver-checked end-to-end."""
    media = multimodal.synth_wav_media(_t(spark, sf_dir, "documents"))
    return multimodal.audio_stats(media).select(
        "media_id",
        "n_samples",
        "duration_ms",
        F.round("rms", 6).alias("rms"),
        F.round("peak", 6).alias("peak"),
        "zero_crossings",
    )


@q(
    "excel_sheet_pages",
    """
    WITH rows AS (
      SELECT o_orderpriority AS sheet_name, o_orderkey,
             '| ' || CAST(o_orderkey AS VARCHAR) || ' | ' || o_orderstatus || ' | '
                  || printf('%.2f', o_totalprice) || ' |' AS row_md
      FROM orders WHERE o_orderkey % 100 = 0
    )
    SELECT sheet_name, COUNT(*) AS n_rows,
           '| o_orderkey | o_orderstatus | price |' || chr(10) ||
           '| --- | --- | --- |' || chr(10) ||
           string_agg(row_md, chr(10) ORDER BY o_orderkey) AS page_text
    FROM rows GROUP BY sheet_name
    """,
)
def excel_sheet_pages(spark, sf_dir):
    """Excel→pages analog (``document_converter.py:164-221``): sheet =
    order-priority group, one markdown-table page per sheet."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 100 == 0)
    rows = o.select(
        F.col("o_orderpriority").alias("sheet"),
        F.col("o_orderkey"),
        F.col("o_orderstatus"),
        F.format_string("%.2f", F.col("o_totalprice")).alias("price"),
    )
    return converters.sheets_to_markdown(
        rows, "sheet", "o_orderkey", ["o_orderkey", "o_orderstatus", "price"]
    )


@q(
    "word_elements_docs",
    """
    WITH lined AS (
      SELECT doc_id,
             string_split('# Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || text
                          || chr(10) || chr(10) || '## ' || source, chr(10)) AS l
      FROM documents WHERE doc_id % 5 = 0
    ), ex AS (
      SELECT doc_id AS id, unnest(l) AS line, generate_subscripts(l, 1) AS elem_idx
      FROM lined
    )
    SELECT id, CAST(elem_idx AS INT) AS elem_idx,
           CASE WHEN trim(line) = '' THEN 'spacing'
                WHEN regexp_extract(line, '^(#{1,6}) ', 1) <> '' THEN 'heading'
                ELSE 'paragraph' END AS elem_type,
           CAST(length(regexp_extract(line, '^(#{1,6}) ', 1)) AS INT) AS heading_level,
           regexp_replace(line, '^#{1,6} ', '') AS content
    FROM ex
    """,
)
def word_elements_docs(spark, sf_dir):
    """Word→formatted-elements analog (``document_converter.py:253-330``)
    over synthesized multi-line text (heading/paragraph/spacing/heading)."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    lined = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.lit("# Doc "), F.col("doc_id").cast("string")),
            F.col("text"),
            F.lit(""),
            F.concat(F.lit("## "), F.col("source")),
        ).alias("body"),
    )
    return converters.word_elements(lined, "doc_id", "body")


@q(
    "string_to_list_coercion",
    """
    SELECT p_partkey,
           CASE CAST(p_partkey % 3 AS INT)
                WHEN 0 THEN replace(p_name, ' ', '|')
                WHEN 1 THEN p_name
                ELSE '' END AS items,
           CASE CAST(p_partkey % 3 AS INT)
                WHEN 0 THEN len(string_split(p_name, ' '))
                WHEN 1 THEN 1
                ELSE 0 END AS n_items
    FROM part
    """,
)
def string_to_list_coercion(spark, sf_dir):
    """String→list coercion (``comparator.py:210-238``): list literals
    parse to items, scalars become single-item lists, NULL → []."""
    from ..operators.jsonops import string_to_list

    p = _t(spark, sf_dir, "part")
    raw = (
        F.when(
            F.col("p_partkey") % 3 == 0,
            F.concat(F.lit('["'), F.regexp_replace("p_name", " ", '", "'), F.lit('"]')),
        )
        .when(F.col("p_partkey") % 3 == 1, F.col("p_name"))
        .otherwise(F.lit(None).cast("string"))
    )
    lst = string_to_list(raw)
    return p.select(
        "p_partkey",
        F.array_join(lst, "|").alias("items"),
        F.size(lst).cast("int").alias("n_items"),
    )


_SCHEMA_CLASSES = ("click", "view")  # classes WITH configured attributes


@q(
    "empty_schema_skip",
    """
    SELECT CAST(user_id AS VARCHAR) AS conv_id,
           CAST(event_id AS INT) AS section_id,
           event_type AS classification,
           '{}' AS inference_result,
           TRUE AS parsing_succeeded,
           TRUE AS skipped_due_to_empty_attributes,
           0 AS input_tokens, 0 AS output_tokens
    FROM events WHERE event_type NOT IN ('click', 'view')
    """,
)
def empty_schema_skip(spark, sf_dir):
    """Empty-schema skip (``extraction/service.py:733-780``): classes
    with no configured attributes bypass extraction — empty inference
    result, zero metering, explicit skip flag.  The query returns the
    skipped branch; the to_extract branch is asserted in pytest."""
    from ..operators.jsonops import empty_schema_gate

    e = _t(spark, sf_dir, "events")
    sections = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("section_id"),
        F.col("event_type").alias("classification"),
    )
    cfg = spark.createDataFrame(
        [(c, f"attr_{i}") for c in _SCHEMA_CLASSES for i in range(2)],
        "classification string, attribute_name string",
    )
    _to_extract, skipped = empty_schema_gate(sections, cfg)
    return skipped


@q(
    "flatten_dot_notation",
    """
    SELECT event_id,
           TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS "payload.k",
           CAST(2 AS BIGINT) AS "meta.version"
    FROM events WHERE event_id % 4 = 0
    """,
)
def flatten_dot_notation(spark, sf_dir):
    """JSON flattening to dot-notation columns
    (``reporting/save_reporting_data.py`` flattens nested JSON this way
    before the reporting write): nested struct → ``a.b`` columns via
    pure projection."""
    from ..operators.jsonops import flatten_struct

    e = _t(spark, sf_dir, "events").where(F.col("event_id") % 4 == 0)
    nested = e.select(
        "event_id",
        F.from_json(
            F.concat(F.lit('{"payload": '), F.col("props"), F.lit(', "meta": {"version": 2}}')),
            "payload struct<k: bigint>, meta struct<version: bigint>",
        ).alias("rec"),
    ).select("event_id", "rec.payload", "rec.meta")
    return flatten_struct(nested)


@q(
    "discover_class_attributes",
    r"""
    WITH payloads AS (
      SELECT event_type AS classification,
             CASE CAST(event_id % 3 AS INT)
               WHEN 0 THEN props
               WHEN 1 THEN '{"k": ' || regexp_extract(props, '"k": (\d+)', 1)
                           || ', "note": "x", "ok": true}'
               ELSE '{"rate": 1.5, "note": "y"}' END AS j
      FROM events
    ), counted AS (
      SELECT classification, COUNT(*) AS n_class FROM payloads GROUP BY 1
    ), kv AS (
      SELECT p.classification, t.k AS attribute_name,
             json_extract_string(p.j, '$.' || t.k) AS raw
      FROM payloads p, unnest(json_keys(p.j)) t(k)
    )
    SELECT kv.classification, attribute_name,
           COUNT(*) AS n_present,
           ROUND(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(c.n_class), 6)
             AS occurrence_rate,
           MIN(CASE WHEN raw IS NULL THEN 'null'
                    WHEN regexp_matches(raw, '^-?\d+$') THEN 'integer'
                    WHEN regexp_matches(raw, '^-?\d+\.\d+([eE][+-]?\d+)?$')
                      THEN 'number'
                    WHEN raw IN ('true', 'false') THEN 'boolean'
                    ELSE 'string' END) AS inferred_type
    FROM kv JOIN counted c ON kv.classification = c.classification
    GROUP BY kv.classification, attribute_name
    """,
)
def discover_class_attributes(spark, sf_dir):
    """Per-class attribute-schema discovery (``discovery/
    classes_discovery.py`` analog): synthetic per-class JSON variants →
    (attribute, occurrence rate, inferred type) — the table a schema
    author promotes into class config.  The oracle's MIN(type) equals
    the Spark side's majority vote because each attribute is
    consistently typed in this corpus."""
    from ..operators.jsonops import discover_attributes

    e = _t(spark, sf_dir, "events")
    payload = (
        F.when(F.col("event_id") % 3 == 0, F.col("props"))
        .when(
            F.col("event_id") % 3 == 1,
            F.concat(
                F.lit('{"k": '),
                F.regexp_extract("props", r'"k": (\d+)', 1),
                F.lit(', "note": "x", "ok": true}'),
            ),
        )
        .otherwise(F.lit('{"rate": 1.5, "note": "y"}'))
    )
    recs = e.select(F.col("event_type").alias("cls"), payload.alias("j"))
    return discover_attributes(recs, "cls", "j")


@q(
    "json_repair_ragged",
    r"""
    WITH t AS (
      SELECT event_id,
             TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS k
      FROM events WHERE event_id % 5 = 0
    )
    SELECT event_id,
           CASE WHEN k >= 10
                THEN '{"k":' || substring(CAST(k AS VARCHAR), 1, 1) || '}'
           END AS json,
           k >= 10 AS repaired
    FROM t
    """,
)
def json_repair_ragged(spark, sf_dir):
    """Truncated-JSON repair over deliberately mangled payloads.  The
    fixture props are ``{"k": N}``, so chopping the last two characters
    has a closed-form repair the oracle can state: two-digit k keeps its
    first digit ({"k": 87} → '{"k": 8' → {"k":8}, repaired), one-digit k
    loses the member entirely (nothing salvageable → NULL/false) —
    mirroring the reference's strip-incomplete-member rung
    (``utils/__init__.py:658-1038``)."""
    from ..operators.jsonops import extract_json_udf

    e = _t(spark, sf_dir, "events").where(F.col("event_id") % 5 == 0)
    ragged = e.select(
        "event_id",
        F.expr("substring(props, 1, length(props) - 2)").alias("broken"),
    )
    res = ragged.withColumn("r", extract_json_udf(F.col("broken")))
    return res.select(
        "event_id", F.col("r.json").alias("json"), F.col("r.repaired").alias("repaired")
    )


@q(
    "json_yaml_detect",
    """
    SELECT event_id,
           CASE CAST(event_id % 3 AS INT)
                WHEN 0 THEN 'json' WHEN 1 THEN 'yaml' ELSE 'unknown' END AS fmt,
           CASE CAST(event_id % 3 AS INT)
                WHEN 0 THEN replace(props, ' ', '')
                WHEN 1 THEN replace(props, ' ', '')
           END AS json
    FROM events WHERE event_id % 2 = 0
    """,
)
def json_yaml_detect(spark, sf_dir):
    """Format detection + dispatch (``utils/__init__.py:442-533``): JSON
    props pass through the JSON path, a YAML-ified variant parses via
    the YAML path and re-serializes to the SAME canonical JSON, plain
    prose is unknown/unparseable — the oracle states all three outcomes
    in closed form (fixture props are exactly ``{"k": N}``)."""
    from ..operators.jsonops import extract_structured_udf

    e = _t(spark, sf_dir, "events").where(F.col("event_id") % 2 == 0)
    payload = (
        F.when(F.col("event_id") % 3 == 0, F.col("props"))
        .when(F.col("event_id") % 3 == 1, F.trim(F.regexp_replace(F.col("props"), r'[{}"]', "")))
        .otherwise(F.lit("plain prose with no structure at all"))
    )
    res = e.select("event_id", extract_structured_udf(payload).alias("r"))
    return res.select("event_id", F.col("r.fmt").alias("fmt"), F.col("r.json").alias("json"))


# ---------------------------------------------------------------------------
# Layout tables/forms lift (round 4): the reference's Page.tables /
# Page.forms structured extraction (models.py:44-50, Textract
# TABLES/FORMS features ocr/service.py:497-527) over deterministic
# synthetic block payloads — real from_json lift on the Spark side,
# analytic cell recomputation on the DuckDB side.

_LT_CELLS_SQL = """
WITH tt AS (
  SELECT doc_id, g.g AS t FROM documents
  JOIN generate_series(0, 1) g(g) ON g.g <= doc_id % 2
), cells AS (
  SELECT doc_id, t, r.g AS rr, c.g AS cc
  FROM tt JOIN generate_series(0, 4) r(g) ON r.g <= (doc_id + t) % 3 + 1
          JOIN generate_series(0, 3) c(g) ON c.g <= (doc_id + t) % 2 + 1
)
"""


@q(
    "layout_tables_cells",
    _LT_CELLS_SQL
    + """
    SELECT doc_id AS media_id, CAST(t AS INT) AS table_id,
           CAST(rr AS INT) AS cell_row, CAST(cc AS INT) AS cell_col,
           'c' || CAST(rr AS VARCHAR) || 'x' || CAST(cc AS VARCHAR) ||
           't' || CAST(t AS VARCHAR) || 'd' || CAST(doc_id AS VARCHAR) AS text,
           ROUND(((doc_id*31 + t*53 + rr*7 + cc*13) % 1000) / 1000.0, 4) AS conf
    FROM cells
    """,
)
def layout_tables_cells(spark, sf_dir):
    """Table-cell lift from heterogeneous layout-block payloads — the
    relational form of the reference's ``Page.tables``
    (``models.py:48``).  The payload really is scrambled JSON and the
    lift really is ``from_json`` → explode → kind-filter (pure
    Catalyst, zero UDF); the oracle recomputes every cell analytically
    from the generation formulas."""
    pay = lt.synth_layout_payloads(_t(spark, sf_dir, "documents"))
    return lt.lift_table_cells(pay).select(
        "media_id",
        "table_id",
        F.col("row").alias("cell_row"),
        F.col("col").alias("cell_col"),
        "text",
        F.round("conf", 4).alias("conf"),
    )


@q(
    "layout_forms_kv",
    """
    SELECT doc_id AS media_id,
           'field' || CAST(k.g AS VARCHAR) AS field_key,
           'v' || CAST((doc_id*17 + k.g*5) % 100 AS VARCHAR) AS field_value,
           ROUND(((doc_id*11 + k.g*29) % 1000) / 1000.0, 4) AS conf
    FROM documents JOIN generate_series(0, 2) k(g) ON k.g <= doc_id % 3
    """,
)
def layout_forms_kv(spark, sf_dir):
    """Key-value form-field lift — the reference's ``Page.forms`` map
    (``models.py:49``) as relational rows, duplicate keys resolved
    last-record-wins (dict-update semantics) by a max-position window."""
    pay = lt.synth_layout_payloads(_t(spark, sf_dir, "documents"))
    return lt.lift_form_fields(pay).select(
        "media_id",
        F.col("key").alias("field_key"),
        F.col("value").alias("field_value"),
        F.round("conf", 4).alias("conf"),
    )


@q(
    "layout_table_markdown",
    _LT_CELLS_SQL.replace(
        "SELECT doc_id, t, r.g AS rr, c.g AS cc",
        """SELECT doc_id, t, r.g AS rr, c.g AS cc,
         'c' || CAST(r.g AS VARCHAR) || 'x' || CAST(c.g AS VARCHAR) ||
         't' || CAST(t AS VARCHAR) || 'd' || CAST(doc_id AS VARCHAR) AS txt""",
    )
    + """
    , lines AS (
      SELECT doc_id, t, rr*2 AS row_key,
             '| ' || string_agg(txt, ' | ' ORDER BY cc) || ' |' AS line
      FROM cells GROUP BY doc_id, t, rr
    ), seps AS (
      SELECT DISTINCT doc_id, t, 1 AS row_key,
             '|' || repeat('---|', CAST((doc_id + t) % 2 + 2 AS INT)) AS line
      FROM tt
    )
    SELECT doc_id AS media_id, CAST(t AS INT) AS table_id,
           string_agg(line, chr(10) ORDER BY row_key) AS markdown
    FROM (SELECT * FROM lines UNION ALL SELECT * FROM seps)
    GROUP BY 1, 2
    """,
)
def layout_table_markdown(spark, sf_dir):
    """Markdown grid render of lifted cells — the reference's
    table→markdown conversion (``ocr/document_converter.py:331``,
    textractor ``to_markdown`` path ``ocr/service.py:1603-1675``).
    Pure Catalyst assembly: one (media, table) shuffle, in-array sort,
    concat_ws — no Python in the render."""
    pay = lt.synth_layout_payloads(_t(spark, sf_dir, "documents"))
    return lt.tables_markdown(lt.lift_table_cells(pay))


@q(
    "text_confidence_table",
    """
    WITH d AS (
      SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) >= 3
    )
    SELECT CAST(doc_id AS VARCHAR) AS conv_id, CAST(0 AS INT) AS turn_idx,
           substr(text, CAST(FLOOR(i.g*n/3.0) AS INT) + 1,
                  CAST(FLOOR((i.g+1)*n/3.0) AS INT)
                    - CAST(FLOOR(i.g*n/3.0) AS INT)) AS text,
           ROUND(((doc_id*7 + i.g*13) % 1000) / 1000.0, 4) AS conf
    FROM d JOIN generate_series(0, 2) i(g) ON true
    """,
)
def text_confidence_table_parity(spark, sf_dir):
    """The text-confidence projection (reference's per-line
    text+confidence markdown table, ``ocr/service.py:1561-1601`` —
    ~80-90% token reduction vs raw OCR JSON) driven through the REAL
    :func:`functions.chunking.text_confidence_table` operator over a
    SQL-visible synthetic spans table: each document is split into
    three deterministic span thirds with formula confidences, and the
    operator substrings them back out.  The kernel-spans pipeline path
    stays covered by ``tests/test_jsonops.py``
    ``test_text_confidence_projection``."""
    from ..functions.chunking import text_confidence_table

    d = (
        _t(spark, sf_dir, "documents")
        .where(F.length("text") >= 3)
        .select(
            F.col("doc_id").cast("string").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.col("text").alias("extracted_text"),
            F.transform(
                F.sequence(F.lit(0), F.lit(2)),
                lambda idx: F.struct(
                    F.floor(idx * F.length("text") / 3.0)
                    .cast("int")
                    .alias("start"),
                    F.floor((idx + 1) * F.length("text") / 3.0)
                    .cast("int")
                    .alias("end"),
                    F.lit("line").alias("kind"),
                    (
                        ((F.col("doc_id") * 7 + idx * 13) % 1000) / 1000.0
                    ).alias("conf"),
                ),
            ).alias("spans"),
        )
    )
    out = text_confidence_table(d)
    return out.select(
        "conv_id", "turn_idx", "text", F.round("conf", 4).alias("conf")
    )
