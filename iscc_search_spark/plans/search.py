"""SearchIndex — the user-facing query facade (the reference's index
protocol surface, iscc_search/protocols/index.py:39-98, re-expressed as a
plan-building library: no custom Catalyst rule needed, the facade emits the
DataFrame plan directly — SURVEY.md §4 'what needs a custom rule: nothing').
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iscc_search_spark.catalog import IndexCatalog
from iscc_search_spark.functions.textnorm import tokenize_py
from iscc_search_spark.operators.neardup import simhash_neardup_pairs
from iscc_search_spark.operators.wand import (
    IndexReader,
    _local_topk,
    bm25_wand_topk,
    bm25_wand_topk_batch,
    docs_rows,
)
from iscc_search_spark.session import arrow_frame

# the Spark paths' columns, names and types: row_number's rank is never null
TOPK_DDL = "rank long NOT NULL, doc_id long, score double"
BATCH_DDL = "query_id long, rank long NOT NULL, doc_id long, score double"
SEARCH_DDL = (
    "doc_id long, rank long NOT NULL, score double, url string, lang string,"
    " simhash long, doc_len long"
)
_DOC_COLS = ("doc_id", "url", "lang", "doc_len", "simhash", "instance")


def _docs_join(spark: SparkSession, cat: IndexCatalog, topk: DataFrame) -> DataFrame:
    """search(with_metadata)'s Spark path: topk left-joined with docs."""
    docs = spark.read.parquet(cat.docs).select(
        "doc_id", "url", "lang", "simhash", "doc_len"
    )
    return topk.join(docs, "doc_id", "left").orderBy("rank")


class SearchIndex:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.cat = IndexCatalog(index_dir)
        # one open per facade: meta + term-stats cache + postings listing
        # are loaded once and shared by every query (serving-path latency)
        self.reader = IndexReader(spark, index_dir)
        self.meta = self.reader.meta

    # --- queries ------------------------------------------------------------

    def search(self, query: str, k: int = 10, with_metadata: bool = True) -> DataFrame:
        """BM25 top-k; optionally enriched with the docs sidecar (J4 — the
        reference's post-top-k metadata lookup, usearch/index.py:841-875).

        Answered driver-side, zero Spark jobs: the reader's posting-bucket
        cache and the one WAND kernel score the query, the reader's cached
        docs columns give the metadata, and the ≤ k rows reach Spark
        through Arrow.  Over the local postings cap the Spark operator
        (``bm25_wand_topk``) scores; when the docs columns are not cached
        (over _SIM_CACHE_BYTES, or a doc_id that is on two docs rows) the
        metadata comes from a left join with the docs table."""
        ranked = _local_topk(self.reader, {0: query}, k)
        if ranked is None:
            topk = bm25_wand_topk(self.spark, self.reader, query, k)
        else:
            ranked = ranked.drop(columns="query_id")
            docs = self.reader.sim_tables("docs") if with_metadata else None
            if docs is not None:
                rows = docs_rows(docs[0], ranked["doc_id"].to_numpy())
                return arrow_frame(self.spark, {**ranked, **rows}, SEARCH_DDL)
            topk = arrow_frame(self.spark, ranked, TOPK_DDL)
        return _docs_join(self.spark, self.cat, topk) if with_metadata else topk

    def search_many(self, queries: dict[int, str], k: int = 10) -> DataFrame:
        """Batched BM25 top-k, (query_id, rank, doc_id, score).  Answered
        driver-side like ``search``: one kernel run scores the whole batch
        over the reader's cached posting buckets (blocks decoded once,
        shared across queries), zero Spark jobs.  Above the local postings
        cap, one Spark job (``bm25_wand_topk_batch``)."""
        ranked = _local_topk(self.reader, queries, k)
        if ranked is None:
            return bm25_wand_topk_batch(self.spark, self.reader, queries, k)
        return arrow_frame(self.spark, ranked, BATCH_DDL)

    def more_like_this(self, doc_id: int, k: int = 10) -> DataFrame:
        """J5: expand the stored document's terms into a query, excluding
        the source doc itself (P5 self-exclusion)."""
        row = (
            self.spark.read.parquet(self.cat.docs)
            .filter(F.col("doc_id") == doc_id)
            .select("terms")
            .collect()
        )
        if not row:
            raise KeyError(f"doc_id {doc_id} not indexed")
        terms = list(row[0]["terms"])
        topk = bm25_wand_topk(
            self.spark, self.reader, " ".join(sorted(set(terms))), k + 1
        )
        from pyspark.sql import Window

        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            topk.filter(F.col("doc_id") != doc_id)
            .drop("rank")
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("rank", "doc_id", "score")
        )

    def get_doc(self, doc_id: int) -> dict:
        """Stored metadata of one document (the reference's get_asset,
        protocols/index.py + remote/client.py:229-243): KeyError if the
        doc is not indexed.  Answered from the reader's cached docs
        columns (zero Spark jobs); by a docs scan when they are not cached
        (over _SIM_CACHE_BYTES, or a duplicated doc_id)."""
        self.reader.ensure_fresh()
        docs = self.reader.sim_tables("docs")
        if docs is not None:
            cols = docs[0]
            i = int(np.searchsorted(cols["doc_id"], doc_id))
            if i == len(cols["doc_id"]) or cols["doc_id"][i] != doc_id:
                raise KeyError(f"doc_id {doc_id} not indexed")
            return {
                "doc_id": int(cols["doc_id"][i]),
                **{c: cols[c][i].as_py() for c in _DOC_COLS[1:]},
            }
        rows = (
            self.spark.read.parquet(self.cat.docs)
            .filter(F.col("doc_id") == doc_id)
            .select(*_DOC_COLS)
            .limit(1)
            .collect()
        )
        if not rows:
            raise KeyError(f"doc_id {doc_id} not indexed")
        return rows[0].asDict()

    def near_duplicates(self, max_hamming: int = 6) -> DataFrame:
        """Corpus-wide simhash near-dup pairs from the docs sidecar."""
        docs = self.spark.read.parquet(self.cat.docs).select("doc_id", "simhash")
        return simhash_neardup_pairs(docs, max_hamming=max_hamming)

    # --- similarity family: served from the PERSISTED build artifacts --------
    # (units/simprints are stage-C tables; no per-query corpus recompute —
    # the reference's one-derived-index-per-type model,
    # iscc_search/indexes/usearch/index.py:1602-1648)

    def units(self) -> DataFrame:
        from iscc_search_spark.operators.build import load_units

        return load_units(self.spark, self.cat.root)

    def simprints(self) -> DataFrame:
        from iscc_search_spark.operators.build import load_simprints

        return load_simprints(self.spark, self.cat.root)

    def search_similar(self, doc_id: int, k: int = 10) -> DataFrame:
        """Multi-unit ISCC search (confidence-weighted Σs⁴/Σs).  Answered
        driver-side from the reader's cached units and unit_bands tables
        (search_assets_multiunit_local; the ≤ k rows reach Spark through
        Arrow); above the cache cap, or without the derived tables, by
        the Spark operator's keyed lookup on the persisted band table."""
        from iscc_search_spark.operators.build import load_unit_bands
        from iscc_search_spark.operators.multiunit import (
            SIMILAR_DDL,
            search_assets_multiunit,
            search_assets_multiunit_local,
        )

        pdf = search_assets_multiunit_local(self.reader, doc_id, k)
        if pdf is not None:
            return arrow_frame(self.spark, pdf, SIMILAR_DDL)
        return search_assets_multiunit(
            None, doc_id, k=k, units=self.units(),
            bands=load_unit_bands(self.spark, self.cat.root),
        )

    def search_granular(
        self, query_text: str, k: int = 10, max_hamming: int = 8
    ) -> DataFrame:
        """Chunk-level simprint search (exact recall for max_hamming <=
        12).  Answered driver-side from the reader's cached simprint_bands
        table (granular_topk_local); above the cache cap, or without the
        derived tables, by the Spark operator's keyed lookup into the same
        persisted table."""
        from iscc_search_spark.operators.build import load_simprint_bands
        from iscc_search_spark.operators.simprints import (
            GRANULAR_DDL,
            granular_topk,
            granular_topk_local,
        )

        pdf = granular_topk_local(self.reader, query_text, k, max_hamming)
        if pdf is not None:
            return arrow_frame(self.spark, pdf, GRANULAR_DDL)
        return granular_topk(
            None, query_text, k=k, max_hamming=max_hamming,
            bands=load_simprint_bands(self.spark, self.cat.root),
        )

    # --- DDL / stats (S8) ----------------------------------------------------

    def stats(self, exact: bool = False) -> dict:
        """Index statistics with ZERO Spark jobs on the default path:
        n_docs/avgdl come from meta (maintained by build/upsert/delete),
        table row counts from the parquet file footers (driver-side
        metadata reads — exact values, no data scan; the pre-round-4
        version fired 4-5 full-table count() jobs per call, which the
        HTTP /stats endpoint inherited).  ``exact=True`` re-counts via
        Spark jobs — the cross-check/debug path."""
        if exact:
            out = {
                **self.meta,
                "n_docs": self.spark.read.parquet(self.cat.docs).count(),
                "n_posting_blocks": self.spark.read.parquet(
                    self.cat.postings
                ).count(),
                "n_terms": self.spark.read.parquet(self.cat.term_stats).count(),
            }
            if self.cat.exists("units"):
                out["n_units"] = self.units().count()
            if self.cat.exists("simprints"):
                out["n_simprints"] = self.simprints().count()
            return out
        out = {
            **self.meta,
            "n_posting_blocks": _parquet_num_rows(self.cat.postings),
            "n_terms": _parquet_num_rows(self.cat.term_stats),
        }
        if self.cat.exists("units"):
            out["n_units"] = _parquet_num_rows(self.cat.units)
        if self.cat.exists("simprints"):
            out["n_simprints"] = _parquet_num_rows(self.cat.simprints)
        return out


def _parquet_num_rows(path: str) -> int:
    """Exact table row count from parquet FOOTERS only (no data pages,
    no Spark job) — the driver-side analogue of a manifest count."""
    import os

    import pyarrow.parquet as pq

    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return total


def drop_index(index_dir: str) -> None:
    """S8 delete-index analogue."""
    import shutil

    shutil.rmtree(index_dir, ignore_errors=True)
