"""Batch sources for the pages corpus (S1/S2 in SURVEY.md §2.1).

- parquet scan with projection/pushdown (S2 — Catalyst does the pruning;
  the reference hand-rolled column selection at cli/hub.py:85-107)
- JSON lines scan with explicit schema (S1 — the reference's .iscc.json
  glob + simdjson path, cli/add.py:22-53)
- html -> text extraction stage with the byte-identical invariant
  (input_hint) via the Arrow-batched extraction UDF
- row-validity filter (P2) and per-reason classification (S4)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iscc_search_spark.functions.textnorm import extract_text_udf

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def read_pages_json(spark: SparkSession, path: str) -> DataFrame:
    """JSON-lines pages (S1).  Explicit schema — no sampling pass."""
    schema = T.StructType([f for f in PAGES_SCHEMA.fields if f.name != "html"])
    return spark.read.schema(schema).json(path)


def extract_pages(pages: DataFrame) -> DataFrame:
    """Materialize text from html when text is absent (extraction stage).

    The invariant test asserts extract(html) == text byte-identically for
    rows carrying both (BASELINE.json input_hint).
    """
    if "html" not in pages.columns:
        return pages
    return pages.withColumn(
        "text",
        F.coalesce(F.col("text"), extract_text_udf("html")),
    )


def classify_rows(pages: DataFrame, allowed_langs: list[str] | None = None) -> DataFrame:
    """Append a ``reason`` column (S4 semantics: the reference classifies
    ok/deletion/unknown_schema/malformed/realm_mismatch,
    aggregator/entry.py:54-110).  Counters = groupBy('reason').count() (A9)."""
    lang_ok = (
        F.col("lang").isin(allowed_langs) if allowed_langs else F.lit(True)
    )
    return pages.withColumn(
        "reason",
        F.when(F.col("url").isNull() | F.col("text").isNull(), "malformed")
        .when(F.length(F.trim(F.col("text"))) == 0, "empty")
        .when(~lang_ok, "lang_mismatch")
        .otherwise("ok"),
    )
