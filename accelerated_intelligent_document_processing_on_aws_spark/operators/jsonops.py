"""JSON payload operators.

Fast path: ``F.get_json_object`` / ``F.from_json`` — JVM, codegen'd —
for well-formed JSON columns (the reference's happy path).  Ragged
path: :func:`extract_json_udf`, an Arrow-batched kernel applying the
multi-strategy extractor + truncated repair of
``kernel.json_extract`` (reference ``utils/__init__.py:133-270,658-1038``),
emitting an ``output_repaired`` flag like ``extraction/service.py:996-1017``.

Schema discovery: :func:`discover_json_schema` samples a JSON column
and returns the merged Spark schema — the analog of the reference's
genson-based inference (``evaluation/service.py:221-265``,
``discovery/classes_discovery.py``)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

_RESULT = T.StructType(
    [
        T.StructField("json", T.StringType()),
        T.StructField("repaired", T.BooleanType()),
    ]
)


@pandas_udf(_RESULT)
def extract_json_udf(text: pd.Series) -> pd.DataFrame:
    from ..kernel.json_extract import extract_json

    out = [extract_json(t) for t in text]
    return pd.DataFrame(out, columns=["json", "repaired"])


_STRUCTURED_RESULT = T.StructType(
    [
        T.StructField("json", T.StringType()),
        T.StructField("fmt", T.StringType()),
    ]
)


@pandas_udf(_STRUCTURED_RESULT)
def extract_structured_udf(text: pd.Series) -> pd.DataFrame:
    """Format-dispatched parse: YAML payloads re-serialize to canonical
    JSON, everything else goes through the JSON repair ladder."""
    from ..kernel.json_extract import extract_structured

    out = [extract_structured(t) for t in text]
    return pd.DataFrame(out, columns=["json", "fmt"])


def string_to_list(col: Column | str) -> Column:
    """String→list coercion (``evaluation/comparator.py:210-238``):
    NULL → []; a ``[...]`` literal → its items (quotes stripped,
    whitespace trimmed); anything else → a single-item list.

    Plan-side flavor of the reference's ``ast.literal_eval`` path for
    FLAT lists of scalars (nested list literals fall back to the
    single-item branch, same as the reference's SyntaxError fallback);
    :func:`convert_to_list` in ``kernel/strings.py`` is the exact
    Python twin used inside kernels.

    Quoted items are comma-safe: ``["a,b"]`` parses via ``from_json``
    to ONE item (round-2 advice — the bare comma split broke it into
    two); single-quoted literals (``['a,b']``) go through a
    quote-translated ``from_json``.  Only quote-free inners use the
    comma split, where every comma really is a separator."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.trim(c.cast("string"))
    listish = s.rlike(r"^\[[^\[\]]*\]$")  # flat [...] only
    inner = F.trim(F.regexp_replace(s, r"^\[\s*|\s*\]$", ""))
    no_quotes = ~inner.rlike("[\"']")
    items = F.transform(
        F.split(inner, ","),
        lambda x: F.regexp_replace(F.trim(x), "^[\"']|[\"']$", ""),
    )
    # quoted payloads: real JSON parse (comma-inside-quote safe); the
    # single-quote variant covers Python-repr literals like ['a,b']
    # with no embedded double quotes (ast.literal_eval's common case)
    json_arr = F.from_json(s, "array<string>")
    json_arr_sq = F.from_json(F.translate(s, "'", '"'), "array<string>")
    return (
        F.when(c.isNull(), F.array().cast("array<string>"))
        .when(listish & (inner == ""), F.array().cast("array<string>"))
        .when(listish & no_quotes, items)
        .when(listish & json_arr.isNotNull(), json_arr)
        .when(listish & json_arr_sq.isNotNull(), json_arr_sq)
        .when(listish, items)  # ragged quoting: best-effort split
        .otherwise(F.array(s))
    )


def empty_schema_gate(sections: DataFrame, attr_config: DataFrame):
    """Empty-schema skip (``extraction/service.py:733-780,1135-1140``):
    sections whose class has NO configured attributes bypass extraction
    entirely — empty inference result, zero metering, an explicit
    ``skipped_due_to_empty_attributes`` flag — while the rest proceed.

    Returns ``(to_extract, skipped)``: the Spark idiom for the
    reference's early return is a config-driven split, so the expensive
    path's plan never even sees the skipped rows (the filter sits
    directly above the scan).  ``attr_config`` is the per-class
    attribute table (classification, attribute_name, ...), broadcast."""
    counts = F.broadcast(
        attr_config.groupBy("classification").agg(
            F.count(F.lit(1)).alias("n_attributes")
        )
    )
    tagged = sections.join(counts, "classification", "left").withColumn(
        "n_attributes", F.coalesce(F.col("n_attributes"), F.lit(0)).cast("int")
    )
    to_extract = tagged.where(F.col("n_attributes") > 0)
    skipped = tagged.where(F.col("n_attributes") == 0).select(
        *sections.columns,
        F.lit("{}").alias("inference_result"),
        F.lit(True).alias("parsing_succeeded"),
        F.lit(True).alias("skipped_due_to_empty_attributes"),
        F.lit(0).alias("input_tokens"),
        F.lit(0).alias("output_tokens"),
    )
    return to_extract, skipped


def infer_scalar_type(value: Column) -> Column:
    """JSON-schema scalar type from a raw JSON value token — the
    per-value rule of the reference's genson auto-schema
    (``evaluation/service.py:221-264``): integer / number / boolean /
    null / string."""
    return (
        F.when(value.isNull(), F.lit("null"))
        .when(value.rlike(r"^-?\d+$"), F.lit("integer"))
        .when(value.rlike(r"^-?\d+\.\d+([eE][+-]?\d+)?$"), F.lit("number"))
        .when(value.isin("true", "false"), F.lit("boolean"))
        .otherwise(F.lit("string"))
    )


def discover_attributes(df: DataFrame, class_col: str, json_col: str) -> DataFrame:
    """Per-class attribute-schema discovery over extracted JSON records —
    the data-driven analog of the reference's discovery module
    (``discovery/classes_discovery.py``: per-document schema proposals
    merged into the class config; the inference rule itself mirrors the
    genson auto-schema of ``evaluation/service.py:221-264``).

    Each record's keys explode (one ``from_json`` map parse, no UDF);
    per (classification, attribute) the output reports how many class
    records carry the attribute, the occurrence rate, and the majority
    inferred type (ties break lexicographically) — exactly what a
    schema-config author needs to promote discovered attributes.
    Returns (classification, attribute_name, n_present, occurrence_rate,
    inferred_type)."""
    w = Window.partitionBy(class_col)
    base = df.withColumn("_n_class", F.count(F.lit(1)).over(w))
    kv = base.select(
        F.col(class_col).alias("classification"),
        "_n_class",
        F.explode(F.from_json(F.col(json_col), "map<string,string>")).alias(
            "attribute_name", "_raw"
        ),
    ).withColumn("_type", infer_scalar_type(F.col("_raw")))
    typed = (
        kv.groupBy("classification", "attribute_name", "_type")
        .agg(F.count(F.lit(1)).alias("n_typed"), F.first("_n_class").alias("_n_class"))
    )
    rank = Window.partitionBy("classification", "attribute_name").orderBy(
        F.desc("n_typed"), F.asc("_type")
    )
    return (
        typed.withColumn("_rk", F.row_number().over(rank))
        .groupBy("classification", "attribute_name")
        .agg(
            F.sum("n_typed").alias("n_present"),
            F.round(F.sum("n_typed") / F.first("_n_class"), 6).alias("occurrence_rate"),
            F.max(F.when(F.col("_rk") == 1, F.col("_type"))).alias("inferred_type"),
        )
    )


def flatten_struct(df: DataFrame, sep: str = ".") -> DataFrame:
    """Recursive dot-notation flattening of struct columns
    (``reporting/save_reporting_data.py`` flattens nested JSON the same
    way before writing the reporting tables): ``a: struct<b: struct<c>>``
    becomes columns ``a.b.c``.  Pure projection — Catalyst collapses it
    into the scan."""
    from pyspark.sql.types import StructType

    def leaves(schema, prefix=""):
        out = []
        for f in schema.fields:
            name = f"{prefix}{f.name}"
            if isinstance(f.dataType, StructType):
                out += leaves(f.dataType, f"{name}{sep}")
            else:
                out.append((name, F.col(name.replace(sep, "."))))
        return out

    cols = [c.alias(name) for name, c in leaves(df.schema)]
    return df.select(*cols)


def discover_json_schema(df: DataFrame, col: str, sample: int = 200) -> T.StructType:
    """Infer the merged schema of a JSON string column from a bounded
    sample (driver-side, O(sample) — never the corpus)."""
    spark = df.sparkSession
    rows = [r[0] for r in df.select(col).limit(sample).collect() if r[0]]
    return spark.read.json(spark.sparkContext.parallelize(rows)).schema


def parse_with_schema(df: DataFrame, col: str, schema: T.StructType,
                      out: str = "parsed") -> DataFrame:
    return df.withColumn(out, F.from_json(F.col(col), schema))
