"""Top-k BM25 over the compressed sharded postings — block-max pruned.

Query lifecycle (the Spark equivalent of the reference's search path,
iscc_search/indexes/usearch/index.py:735-881 — see SURVEY.md §3.1):

1. tokenize the query with the build-side tokenizer (normalize_query parity,
   indexes/common.py:275-330);
2. look up exact df per term — from the ``IndexReader``'s driver-side
   term-stats cache (loaded ONCE per index open via a direct pyarrow read,
   zero Spark jobs per query; the analogue of the reference's long-lived
   LMDB read txn, lmdb/index.py:395-445) or, above the cache cap, a
   bucket-pruned Spark lookup — and compute idf driver-side in float64 libm;
3. scan only the query terms' posting blocks (partition pruning on the
   bucket dir + parquet row-group stats on ``term``);
4. per shard, a vectorized numpy scorer decodes surviving blocks and
   accumulates per-doc scores in ascending-term order (bit-identical to
   the oracle's accumulation);
5. block-max pruning: a block B of term t is skipped iff
       idf_t * block_max(B) + sum_{t' != t} U_t'  <  theta
   where U_t' is term t's global max impact and theta is a lower bound on
   the k-th best total score (bootstrapped from the exact contributions of
   the rarest term's postings).  Any doc in a skipped block has true score
   < theta, so pruning is EXACT — the WAND invariant (SURVEY.md §7.5 #3);
6. per-shard top-k (tie-break (-score, doc_id), the analogue of the
   reference's (-score, iscc_id_body), lmdb_ops.py:249) then global
   TakeOrderedAndProject merge.

A single query is ONE Spark job end-to-end (stats cached, blocks scanned
once); the doc-sharded layout means each shard scores its own disjoint doc
set with complete information — no cross-shard traffic except the final
k-row merge (the classic distributed-search fan-out; scales to 1000
executors by raising n_shards).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iscc_search_spark.catalog import IndexCatalog, check_format
from iscc_search_spark.functions import codec
from iscc_search_spark.functions.textnorm import tokenize_py
from iscc_search_spark.operators.build import _bucket_of

# driver-side term-stats cache cap: at web scale (~10^8-10^9 distinct terms)
# the full table no longer fits a driver comfortably — above the cap the
# reader falls back to bucket-pruned distributed lookups per query batch
_STATS_CACHE_MAX_ROWS = 20_000_000


def decode_block_ids(min_doc: int, n: int, doc_buf: bytes) -> np.ndarray:
    """Block doc_ids: column-stored first value + FOR-packed in-block deltas
    (sign-flipped uint64 space; see codec.encode_doc_ids rationale)."""
    u0 = np.int64(min_doc).astype(np.uint64) ^ codec._SIGN_BIT
    out = np.empty(n, dtype=np.uint64)
    out[0] = u0
    if n > 1:
        out[1:] = u0 + np.cumsum(codec.for_unpack(doc_buf, n - 1), dtype=np.uint64)
    return (out ^ codec._SIGN_BIT).view(np.int64)


def decode_block_positions(pos_buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Flat absolute token positions for a block (posting p's positions are
    the slice [cum_tf[p], cum_tf[p+1]) of the result)."""
    codes = codec.varbyte_decode(pos_buf).view(np.int64)
    if len(codes) == 0:
        return codes
    cum = np.cumsum(codes)
    starts = np.zeros(len(tfs), dtype=np.int64)
    np.cumsum(tfs[:-1], out=starts[1:])
    base = cum[starts] - codes[starts]  # prefix sum before each posting
    return cum - np.repeat(base, tfs)


class IndexReader:
    """Open-index handle: meta + driver-cached term stats + a reused blocks
    relation (one parquet listing per open, not per query).

    upsert_docs/delete_docs rewrite postings/term_stats/meta in place; a
    long-lived reader detects this via the meta.json mtime (one os.stat per
    query — the version check every query entry point calls) and reloads
    its caches, so serving processes never score with stale df/avgdl or
    vanished part-files.  A reload builds the new state in locals and
    publishes it under a lock, mtime last: a concurrent query either sees
    the old mtime (and waits for the reload) or the complete new state."""

    def __init__(self, spark: SparkSession, index_dir: str, cache_stats: bool = True):
        import threading

        self.spark = spark
        self.cat = IndexCatalog(index_dir)
        self._cache_stats = cache_stats
        self._reload_lock = threading.Lock()
        self._open()

    def _open(self) -> None:
        import os

        mtime = os.stat(self.cat.meta_path).st_mtime_ns
        meta = self.cat.read_meta()
        check_format(meta, "IndexReader")
        stats = self._read_stats() if self._cache_stats else None
        blocks = self.spark.read.parquet(self.cat.postings)
        self.meta = meta
        self.n_docs = int(meta["n_docs"])
        self.avgdl = float(meta["avgdl"])
        self.k1 = float(meta["bm25"]["k1"])
        self.b = float(meta["bm25"]["b"])
        self.n_buckets = int(meta["term_buckets"])
        self.blocks = blocks
        self._stats: dict[str, int] | None = stats
        self._pa_dataset = None  # lazy; (bucket, shard) dir listing is paid
        # once per open, NOT per local query (512 dirs cost ~70 ms to list)
        self._bucket_cache_bytes = 0
        # after _pa_dataset: a bucket_blocks call that sees this new cache
        # also sees the reset dataset, so it never caches old-version files
        self._bucket_cache: dict[int, pd.DataFrame] = {}
        self._meta_mtime = mtime  # published last: the reload is complete

    def pa_dataset(self):
        if self._pa_dataset is None:
            import pyarrow.dataset as ds

            self._pa_dataset = ds.dataset(
                self.cat.postings, format="parquet", partitioning="hive"
            )
        return self._pa_dataset

    # hot-bucket block cache for the driver-local fast path: one pyarrow
    # read per BUCKET (not per query) amortizes the (bucket, shard) file
    # opens that dominated single-query latency (measured 56 of 75 ms);
    # the serving-node analogue of the reference's OS-cached LMDB pages.
    # Budget-capped — over budget, queries fall back to filtered reads.
    _BLOCK_CACHE_BYTES = 256 * 1024 * 1024
    _BLOCK_COLS = [
        "term", "n", "min_doc", "doc_ids", "tfs", "dls", "max_tf", "min_dl"
    ]

    def bucket_blocks(self, bucket: int):
        """pandas blocks of one bucket, cached (None if over budget)."""
        cache = self._bucket_cache  # this version's cache, even mid-reload
        if bucket in cache:
            return cache[bucket]
        if self._bucket_cache_bytes >= self._BLOCK_CACHE_BYTES:
            return None
        import pyarrow.dataset as ds

        t = self.pa_dataset().to_table(
            columns=self._BLOCK_COLS, filter=ds.field("bucket") == bucket
        )
        pdf = t.to_pandas()
        self._bucket_cache_bytes += int(t.nbytes)
        cache[bucket] = pdf
        return pdf

    def ensure_fresh(self) -> None:
        """Reload caches if the index was updated since open (cheap stat;
        lock-free while fresh, one reload per version under the lock)."""
        import os

        path = self.cat.meta_path
        if os.stat(path).st_mtime_ns == self._meta_mtime:
            return
        with self._reload_lock:
            if os.stat(path).st_mtime_ns != self._meta_mtime:
                self._open()

    def _read_stats(self) -> dict[str, int] | None:
        import pyarrow.dataset as ds

        d = ds.dataset(self.cat.term_stats, format="parquet", partitioning="hive")
        if d.count_rows() > _STATS_CACHE_MAX_ROWS:
            return None
        t = d.to_table(columns=["term", "df"])
        return dict(zip(t.column("term").to_pylist(), t.column("df").to_pylist()))

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Exact df per term (cache hit = zero Spark jobs)."""
        if self._stats is not None:
            return {t: self._stats[t] for t in terms if t in self._stats}
        rows = (
            self.spark.read.parquet(self.cat.term_stats)
            .filter(_term_filter_sql(terms, self.n_buckets))
            .collect()
        )
        return {r["term"]: int(r["df"]) for r in rows}

    def idf(self, term_df: dict[str, int]) -> dict[str, float]:
        n = self.n_docs
        return {
            t: math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            for t, df in term_df.items()
        }

    def candidate_blocks(self, terms: list[str]) -> DataFrame:
        return self.blocks.filter(_term_filter_sql(terms, self.n_buckets))


def _term_filter_sql(terms: list[str], n_buckets: int) -> str:
    """bucket+term IN-filter as ONE SQL string.

    ``Column.isin(list)`` builds a py4j literal per element — ~0.5 ms each,
    so a 1500-term query batch spent ~0.8 s of DRIVER time just assembling
    the filter (measured; it was the largest serial term in the query
    throughput fit).  A SQL string is one py4j call and parses JVM-side
    into the identical pushed-down In predicate.
    """
    buckets = sorted({_bucket_of(t, n_buckets) for t in terms})
    bs = ", ".join(str(b) for b in buckets)
    ts = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(terms))
    return f"bucket IN ({bs}) AND term IN ({ts})"


def _as_reader(spark: SparkSession, index: str | IndexReader) -> IndexReader:
    return index if isinstance(index, IndexReader) else IndexReader(spark, index)


def _decode_term_blocks(
    g: pd.DataFrame, k1: float, b: float, avgdl: float
) -> list[tuple[float, np.ndarray, np.ndarray]]:
    """One term's blocks -> [(block_max, doc_ids, tfnorm)].

    The block upper bound is computed HERE from the stored (max_tf, min_dl)
    metadata under the CURRENT corpus avgdl: tfnorm is increasing in tf and
    decreasing in dl, so tfnorm(max_tf, min_dl) dominates every posting in
    the block for any avgdl — which is what keeps incremental upserts (that
    shift avgdl) from invalidating untouched blocks."""
    out = []
    for n, min_doc, doc_buf, tf_buf, dl_buf, mtf, mdl in zip(
        g["n"], g["min_doc"], g["doc_ids"], g["tfs"], g["dls"],
        g["max_tf"].to_numpy(), g["min_dl"].to_numpy(),
    ):
        n = int(n)
        d = decode_block_ids(int(min_doc), n, doc_buf)
        tf = codec.for_unpack(tf_buf, n).view(np.int64).astype(np.float64)
        dl = codec.for_unpack(dl_buf, n).view(np.int64).astype(np.float64)
        tfnorm = (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        bm = (float(mtf) * (k1 + 1.0)) / (
            float(mtf) + k1 * (1.0 - b + b * float(mdl) / avgdl)
        )
        out.append((bm, d, tfnorm))
    return out


def _shard_scorer(idf: dict[str, float], k1: float, b: float, avgdl: float, k: int):
    """Per-shard vectorized scorer (applyInPandas)."""
    terms_sorted = sorted(idf)

    def score(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        by_term: dict[str, pd.DataFrame] = {
            t: g for t, g in pdf.groupby("term", sort=False)
        }
        present = [t for t in terms_sorted if t in by_term]
        if not present:
            return pd.DataFrame({"doc_id": np.empty(0, np.int64), "score": np.empty(0, np.float64)})

        decoded = {t: _decode_term_blocks(by_term[t], k1, b, avgdl) for t in present}
        u = {t: idf[t] * max(bm for bm, _, _ in decoded[t]) for t in present}
        sum_u = sum(u.values())

        # theta bootstrap: exact single-term contributions of the rarest term
        # (fewest postings in this shard) are lower bounds on totals
        theta = -np.inf
        if len(present) > 1 and k > 0:
            rarest = min(present, key=lambda t: sum(len(d) for _, d, _ in decoded[t]))
            s0 = np.concatenate([idf[rarest] * tn for _, _, tn in decoded[rarest]])
            if len(s0) >= k:
                theta = float(np.partition(s0, -k)[-k])

        # block-max pruning (exact; the epsilon guard keeps the float-rounded
        # bound strictly conservative vs ordered true sums)
        eps = 1e-9 * (1.0 + abs(theta)) if np.isfinite(theta) else 0.0
        all_ids: list[np.ndarray] = []
        all_scores: list[np.ndarray] = []
        for t in present:  # ascending term order -> ordered accumulation
            min_bm = -np.inf
            if np.isfinite(theta) and idf[t] > 0:
                # keep block iff idf_t*bm + rest >= theta - eps
                min_bm = (theta - eps - (sum_u - u[t])) / idf[t]
            ids_parts = [d for bm, d, _ in decoded[t] if bm >= min_bm]
            s_parts = [idf[t] * tn for bm, _, tn in decoded[t] if bm >= min_bm]
            if ids_parts:
                all_ids.append(np.concatenate(ids_parts))
                all_scores.append(np.concatenate(s_parts))

        if not all_ids:
            return pd.DataFrame({"doc_id": np.empty(0, np.int64), "score": np.empty(0, np.float64)})
        flat_ids = np.concatenate(all_ids)
        uniq = np.unique(flat_ids)
        acc = np.zeros(len(uniq), dtype=np.float64)
        for ids, s in zip(all_ids, all_scores):  # term order preserved
            if len(ids):
                acc[np.searchsorted(uniq, ids)] += s

        kk = min(k, len(uniq))
        order = np.lexsort((uniq, -acc))[:kk]
        return pd.DataFrame({"doc_id": uniq[order], "score": acc[order]})

    return score


# a single query whose terms together touch at most this many postings is
# answered driver-side (pyarrow row-group-pruned read + the same numpy
# scorer) — the serving fast path, mirroring the reference's single-node
# LMDB reads; bigger candidate sets fall back to the distributed path
# (enforced below: a Zipf head-term query must not materialize its blocks
# on the driver)
_LOCAL_POSTINGS_CAP = 5_000_000


def bm25_wand_topk_local(
    index: IndexReader, query: str, k: int = 10
) -> pd.DataFrame:
    """(rank, doc_id, score) pandas result, ZERO Spark jobs.

    Bit-identical to the distributed scorer: per-doc accumulation runs in
    the same ascending-term order (sharding only partitions docs; each
    doc's sum is unchanged), block-max pruning uses the same exact bound.
    Queries whose candidate postings exceed _LOCAL_POSTINGS_CAP fall back
    to the distributed scorer (same result, executor-side memory).
    """
    r = index
    r.ensure_fresh()
    empty = pd.DataFrame(
        {
            "rank": pd.Series([], dtype="int64"),
            "doc_id": pd.Series([], dtype="int64"),
            "score": pd.Series([], dtype="float64"),
        }
    )
    terms = sorted(set(tokenize_py(query)))
    if not terms or r.n_docs == 0:
        return empty
    term_df = r.term_dfs(terms)
    if not term_df:
        return empty
    if sum(term_df.values()) > _LOCAL_POSTINGS_CAP:
        return bm25_wand_topk(r.spark, r, query, k).toPandas()
    idf = r.idf(term_df)

    buckets = sorted({_bucket_of(t, r.n_buckets) for t in term_df})
    parts: list[pd.DataFrame] = []
    misses: list[int] = []
    for bkt in buckets:
        cached = r.bucket_blocks(bkt)
        if cached is None:
            misses.append(bkt)
        else:
            parts.append(cached[cached["term"].isin(term_df)])
    if misses:
        import pyarrow.dataset as ds

        flt = ds.field("bucket").isin(misses) & ds.field("term").isin(
            list(term_df)
        )
        parts.append(
            r.pa_dataset()
            .to_table(columns=IndexReader._BLOCK_COLS, filter=flt)
            .to_pandas()
        )
    pdf = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()
    if len(pdf) == 0:
        return empty
    # the whole candidate set scores as ONE "shard": per-doc sums are
    # term-ordered exactly as in the per-shard scorer, so results are
    # bit-identical to the distributed path's global merge
    out = _shard_scorer(idf, r.k1, r.b, r.avgdl, k)((None,), pdf)
    out = out.sort_values(["score", "doc_id"], ascending=[False, True], kind="stable")
    out = out.head(k).reset_index(drop=True)
    out.insert(0, "rank", np.arange(1, len(out) + 1, dtype=np.int64))
    return out


def bm25_wand_topk(
    spark: SparkSession,
    index: str | IndexReader,
    query: str,
    k: int = 10,
) -> DataFrame:
    """(rank, doc_id, score) top-k; pass an IndexReader to amortize the
    index open (meta + stats cache + file listing) across queries."""
    r = _as_reader(spark, index)
    r.ensure_fresh()
    empty = spark.createDataFrame([], "rank long, doc_id long, score double")
    terms = sorted(set(tokenize_py(query)))
    if not terms or r.n_docs == 0:
        return empty
    term_df = r.term_dfs(terms)
    if not term_df:
        return empty
    idf = r.idf(term_df)

    blocks = r.candidate_blocks(sorted(term_df))
    local_topk = blocks.groupBy("shard").applyInPandas(
        _shard_scorer(idf, r.k1, r.b, r.avgdl, k), "doc_id long, score double"
    )
    topk = local_topk.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "doc_id", "score"
    )


def _batch_shard_scorer(
    query_idf: dict[int, dict[str, float]], k1: float, b: float, avgdl: float, k: int
):
    """Per-shard scorer for a query BATCH — dense-accumulator TAAT.

    Every posting block of every requested term is decoded exactly once
    and ALIGNED once into the shard's dense candidate-doc space (position
    array + tfnorm array per term); each query is then a handful of
    fancy-indexed adds into a dense accumulator plus one top-k partition
    — no per-query unique/searchsorted/concatenate (the round-3 version
    replicated ~30 small-array numpy calls per (query, shard), which made
    batch throughput scale with shard count instead of core count).
    Queries with IDENTICAL (term, idf) signatures are scored once and
    fanned out (real query logs are duplicate-heavy; results are exact
    either way).

    Result-identity: scores accumulate per doc in ascending term order —
    the same ordered-sum discipline as before — so outputs are
    bit-identical to the round-3 scorer and to the single-query WAND path
    (which keeps block-max pruning: pruning pays off at one query per
    job, not when a batch shares the decode).  The dense accumulator is
    sized by the shard's CANDIDATE doc count, which shard sizing bounds
    (shards scale with corpus at 10^12 docs; a shard is never the corpus).
    This amortizes parquet scan + Arrow transfer + decode across the
    whole query batch — the serving-path answer to the reference's
    per-query LMDB cursor reuse (lmdb/index.py:395-445).
    """

    def score(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        decoded = {
            t: _decode_term_blocks(g, k1, b, avgdl)
            for t, g in pdf.groupby("term", sort=False)
        }
        if not decoded:
            return pd.DataFrame(
                {
                    "query_id": np.empty(0, np.int64),
                    "doc_id": np.empty(0, np.int64),
                    "score": np.empty(0, np.float64),
                }
            )
        # dense shard candidate space: union of all batch terms' doc ids
        all_ids = np.unique(
            np.concatenate(
                [d for blocks in decoded.values() for _, d, _ in blocks]
            )
        )
        term_pos: dict[str, np.ndarray] = {}
        term_tfn: dict[str, np.ndarray] = {}
        for t, blocks in decoded.items():
            ids = np.concatenate([d for _, d, _ in blocks])
            term_pos[t] = np.searchsorted(all_ids, ids)
            term_tfn[t] = np.concatenate([tn for _, _, tn in blocks])

        # dedupe identical (terms, idfs) signatures across the batch
        sig_qids: dict[tuple, list[int]] = {}
        for qid, idf in query_idf.items():
            present = tuple(sorted(t for t in idf if t in decoded))
            if not present:
                continue
            sig = (present, tuple(idf[t] for t in present))
            sig_qids.setdefault(sig, []).append(qid)

        acc = np.zeros(len(all_ids), dtype=np.float64)
        out_qid: list[np.ndarray] = []
        out_doc: list[np.ndarray] = []
        out_score: list[np.ndarray] = []
        for (present, idfs), qids in sig_qids.items():
            acc[:] = 0.0
            for t, w_t in zip(present, idfs):  # ascending-term order
                acc[term_pos[t]] += w_t * term_tfn[t]
            touched = np.flatnonzero(acc)
            if not len(touched):
                continue
            scores = acc[touched]
            docs = all_ids[touched]
            kk = min(k, len(touched))
            if len(touched) > kk:
                # pre-cut with an O(n) partition before the O(n log n)
                # lexsort (the measured per-query hotspot); keeping every
                # boundary-score tie preserves the exact (score desc,
                # doc asc) order of the full sort
                thresh = np.partition(scores, len(scores) - kk)[len(scores) - kk]
                cand = np.flatnonzero(scores >= thresh)
                docs, scores = docs[cand], scores[cand]
            order = np.lexsort((docs, -scores))[:kk]
            top_docs, top_scores = docs[order], scores[order]
            for qid in qids:
                out_qid.append(np.full(kk, qid, dtype=np.int64))
                out_doc.append(top_docs)
                out_score.append(top_scores)

        if not out_qid:
            return pd.DataFrame(
                {
                    "query_id": np.empty(0, np.int64),
                    "doc_id": np.empty(0, np.int64),
                    "score": np.empty(0, np.float64),
                }
            )
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_qid),
                "doc_id": np.concatenate(out_doc),
                "score": np.concatenate(out_score),
            }
        )

    return score


def bm25_wand_topk_batch(
    spark: SparkSession,
    index: str | IndexReader,
    queries: dict[int, str],
    k: int = 10,
) -> DataFrame:
    """(query_id, rank, doc_id, score) for a whole query batch in ONE job.

    The scan touches only the union of all query terms' buckets; every
    block is decoded once per shard; the final global merge is a single
    small shuffle on query_id.
    """
    r = _as_reader(spark, index)
    r.ensure_fresh()
    empty = spark.createDataFrame(
        [], "query_id long, rank long, doc_id long, score double"
    )
    q_terms = {qid: sorted(set(tokenize_py(q))) for qid, q in queries.items()}
    all_terms = sorted({t for ts in q_terms.values() for t in ts})
    if not all_terms or r.n_docs == 0:
        return empty
    term_df = r.term_dfs(all_terms)
    if not term_df:
        return empty
    idf_all = r.idf(term_df)
    query_idf = {
        qid: {t: idf_all[t] for t in ts if t in idf_all}
        for qid, ts in q_terms.items()
    }
    query_idf = {qid: m for qid, m in query_idf.items() if m}
    if not query_idf:
        return empty

    blocks = r.candidate_blocks(sorted(term_df))
    local = blocks.groupBy("shard").applyInPandas(
        _batch_shard_scorer(query_idf, r.k1, r.b, r.avgdl, k),
        "query_id long, doc_id long, score double",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
