"""Structured-Streaming ingest — the Spark form of the reference's
transparency-log aggregator (SURVEY.md §2.10, iscc_search/aggregator/).

Mapping:
- hub checkpoint cursor (poller.py:43-59)  -> checkpointLocation offsets
- bundle fetch + record decode (tlog.py)   -> file-source micro-batch
- record classification (entry.py:54-110)  -> classify_rows (S4)
- per-reason counters (poller.py:113-144)  -> _reasons parquet per batch (A9)
- at-least-once + idempotent upsert        -> append sink + dedupe-on-read
  (exactly-once per micro-batch via foreachBatch + deterministic file names
  is the Iceberg-MERGE path on a real deployment)

The batch build (operators/build.py) remains the source of truth; streamed
rows land in a raw area that the next incremental build run picks up —
matching the reference's poll-then-index loop.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iscc_search_spark.sources.pages import PAGES_SCHEMA, classify_rows, extract_pages


def stream_ingest(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    allowed_langs: list[str] | None = None,
    trigger_once: bool = True,
):
    """Stream pages parquet from ``input_dir``; write accepted rows to
    ``out_dir``/accepted and per-reason counters to ``out_dir``/_reasons.

    Returns the StreamingQuery (caller awaits/stops it).
    """
    src = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    prepared = classify_rows(extract_pages(src), allowed_langs)

    accepted_dir = os.path.join(out_dir, "accepted")
    reasons_dir = os.path.join(out_dir, "_reasons")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            (
                batch_df.filter(F.col("reason") == "ok")
                .drop("reason", "html")
                .write.mode("append")
                .parquet(accepted_dir)
            )
            (
                batch_df.groupBy("reason")
                .agg(F.count("*").alias("n"))
                .withColumn("epoch", F.lit(epoch_id))
                .write.mode("append")
                .parquet(reasons_dir)
            )
        finally:
            batch_df.unpersist()

    writer = (
        prepared.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_index_maintenance(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    allowed_langs: list[str] | None = None,
    trigger_once: bool = True,
):
    """Streamed page updates applied to a LIVE index: each micro-batch of
    accepted rows becomes one incremental upsert txn (url-keyed; only the
    affected docs partitions, derived-table partitions and posting shards
    rewrite — operators/build.py:upsert_docs, whose postings step is stage
    B restricted to the changed docs' shards).

    Delivery semantics: checkpointLocation gives at-least-once batch
    replay; upsert_docs is idempotent per url (same content -> same docs
    rows -> same derived state), so the index converges exactly-once — the
    streaming analogue of the reference's poll-then-index loop applying
    declarations to the live LMDB index (aggregator/poller.py:43-59).
    Long-lived readers pick the updates up via the meta-mtime check.

    Returns the StreamingQuery (caller awaits/stops it).
    """
    from iscc_search_spark.operators.build import upsert_docs

    src = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    prepared = classify_rows(extract_pages(src), allowed_langs)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        accepted = batch_df.filter(F.col("reason") == "ok").drop(
            "reason", "html"
        )
        accepted.persist()
        try:
            if accepted.limit(1).count():
                upsert_docs(
                    accepted.sparkSession, accepted, index_dir,
                    run_id=f"stream-{epoch_id}",
                )
        finally:
            accepted.unpersist()

    writer = (
        prepared.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _first_seen_pick(pdfs):
    """min-warc_ts row (lang tie-break) across ALL pandas chunks of one
    url group — module-level so the chunk-spanning semantics are unit-
    testable without a streaming harness."""
    first = None
    for pdf in pdfs:
        if not len(pdf):
            continue
        cand = pdf.sort_values(["warc_ts", "lang"]).iloc[:1]
        if (
            first is None
            or cand["warc_ts"].iloc[0] < first["warc_ts"].iloc[0]
            or (
                cand["warc_ts"].iloc[0] == first["warc_ts"].iloc[0]
                and cand["lang"].iloc[0] < first["lang"].iloc[0]
            )
        ):
            first = cand[["url", "warc_ts", "lang"]]
    return first


def first_seen_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """Custom STATEFUL streaming operator: first-seen-wins url dedup
    (streaming U1) via applyInPandasWithState — per-url state records
    whether the url was already emitted, so replays and duplicates within
    or across micro-batches emit exactly one row per url.

    Returns a streaming DataFrame (drive with foreachBatch/memory sink).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)

    def dedupe(key, pdfs, state: GroupState):
        if state.exists:
            return iter(())  # url already emitted in an earlier batch
        # a url's rows within one micro-batch may span multiple pandas
        # chunks: track the running min-warc_ts row across ALL chunks
        # (stopping at the first non-empty chunk made the emitted row
        # chunking-dependent); lang is the deterministic tie-break
        first = _first_seen_pick(pdfs)
        if first is None:
            return iter(())
        state.update((1,))
        return iter([first])

    return src.groupBy("url").applyInPandasWithState(
        dedupe,
        outputStructType="url string, warc_ts timestamp, lang string",
        stateStructType="seen int",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_ingest_stats(
    spark: SparkSession, input_dir: str, window: str = "1 hour"
) -> DataFrame:
    """Streaming windowed counts by lang with a watermark (late-data path).

    Returns a streaming DataFrame; drive with format('memory') in tests.
    """
    src = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    return (
        src.withWatermark("warc_ts", "10 minutes")
        .groupBy(F.window("warc_ts", window), "lang")
        .agg(F.count("*").alias("n_pages"))
    )
