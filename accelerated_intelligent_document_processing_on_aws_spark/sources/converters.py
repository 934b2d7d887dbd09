"""Tabular payload converters.

Analog of the reference's document converter
(``lib/idp_common_pkg/idp_common/ocr/document_converter.py``): CSV →
typed table (``:113-162``), table → markdown rendering (``:134-160``),
and line pagination (``:38-111``) — as Catalyst expressions over
payload columns, no Python in the plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def csv_fields(col: Column | str, sep: str = ",") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(F.split(c, sep), lambda x: F.trim(x))


def markdown_row(col: Column | str, sep: str = ",") -> Column:
    """Render one CSV line as a markdown table row (pipe-escaped, like
    the reference's text-confidence markdown ``ocr/service.py:1583``)."""
    fields = F.transform(csv_fields(col, sep), lambda x: F.regexp_replace(x, r"\|", r"\\|"))
    return F.concat(F.lit("| "), F.array_join(fields, " | "), F.lit(" |"))


def sheets_to_markdown(
    rows: DataFrame, sheet_col: str, order_col: str, value_cols: list[str]
) -> DataFrame:
    """Excel→pages analog (``document_converter.py:164-221``): each sheet
    (= group of rows) renders as ONE markdown-table page — header row
    from the column names, a separator row, then one pipe-row per record
    in ``order_col`` order.  Returns (sheet_name, n_rows, page_text).

    One shuffle (the groupBy); the markdown rendering is Catalyst
    string concat, so the page text never passes through Python."""
    header = "| " + " | ".join(value_cols) + " |"
    sep = "| " + " | ".join(["---"] * len(value_cols)) + " |"
    row_md = F.concat(
        F.lit("| "),
        F.concat_ws(" | ", *[F.col(c).cast("string") for c in value_cols]),
        F.lit(" |"),
    )
    return (
        rows.select(
            F.col(sheet_col).alias("sheet_name"),
            F.col(order_col).alias("_ord"),
            row_md.alias("_row_md"),
        )
        .groupBy("sheet_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.concat(
                F.lit(header + "\n" + sep + "\n"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("_ord", "_row_md"))),
                        lambda s: s["_row_md"],
                    ),
                    "\n",
                ),
            ).alias("page_text"),
        )
    )


def word_elements(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Word→formatted-elements analog (``document_converter.py:253-330``):
    the reference walks docx paragraphs emitting typed elements
    (heading with level from the 'Heading N' style, spacing, paragraph).
    The transcript-corpus analog derives the same element stream from
    markup conventions in plain text: ``#``-prefixed lines are headings
    (level = number of ``#``), blank lines are spacing, the rest
    paragraphs.  Returns (id, elem_idx, elem_type, heading_level,
    content) — pure Catalyst (posexplode + regexp), no Python."""
    lines = F.split(F.col(text_col), r"\n")
    hashes = F.regexp_extract(F.col("_line"), r"^(#{1,6}) ", 1)
    return (
        docs.select(F.col(id_col).alias("id"), F.posexplode(lines).alias("elem_idx", "_line"))
        .select(
            "id",
            (F.col("elem_idx") + 1).alias("elem_idx"),
            F.when(F.trim(F.col("_line")) == "", F.lit("spacing"))
            .when(hashes != "", F.lit("heading"))
            .otherwise(F.lit("paragraph"))
            .alias("elem_type"),
            F.when(hashes != "", F.length(hashes)).otherwise(F.lit(0)).cast("int").alias(
                "heading_level"
            ),
            F.regexp_replace(F.col("_line"), r"^#{1,6} ", "").alias("content"),
        )
    )


def paginate_lines(df: DataFrame, id_cols: list[str], text_col: str,
                   lines_per_page: int = 10) -> DataFrame:
    """Split a multi-line text column into pages of ``lines_per_page``
    lines (``document_converter.py:38-111``): one row per page with the
    page's text and 1-based page number."""
    lines = F.split(F.col(text_col), r"\n")
    n_pages = F.ceil(F.size(lines) / F.lit(lines_per_page)).cast("int")
    pages = F.transform(
        F.sequence(F.lit(0), F.greatest(n_pages - 1, F.lit(0))),
        lambda p: F.struct(
            (p + 1).cast("int").alias("page_no"),
            F.array_join(F.slice(lines, p * lines_per_page + 1, lines_per_page), "\n").alias(
                "page_text"
            ),
        ),
    )
    return df.select(*id_cols, F.explode(pages).alias("p")).select(
        *id_cols, "p.page_no", "p.page_text"
    )
