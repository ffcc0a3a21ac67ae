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
4. per shard, ONE numpy kernel (``_shard_scorer``) scores a query batch:
   it decodes every block once into a dense candidate-doc space and
   accumulates each query's per-doc scores term-at-a-time in ascending
   term order (bit-identical to the oracle's accumulation);
5. block-max pruning per query signature: a block B of term t is skipped iff
       idf_t * block_max(B) + sum_{t' != t} U_t'  <  theta
   where U_t' is the max impact of term t' and theta is a lower bound on
   the k-th best total score (bootstrapped from the exact contributions of
   the rarest term's postings).  Any doc in a skipped block has true score
   < theta, so pruning is EXACT — the WAND invariant (SURVEY.md §7.5 #3);
6. per-shard top-k (tie-break (-score, doc_id), the analogue of the
   reference's (-score, iscc_id_body), lmdb_ops.py:249) then a global
   merge.

The entry points share the query prep and the kernel.  The driver-local
path (``_local_topk``) runs the kernel once over a query batch's whole
candidate set from the reader's posting-bucket cache, zero Spark jobs; it
serves ``bm25_wand_topk_local`` (one query: /search), and
``SearchIndex.search`` / ``search_many``, up to _LOCAL_POSTINGS_CAP
candidate postings.  The Spark operators run the kernel per shard: a
single query (``bm25_wand_topk``) is a batch of one merged by one
TakeOrderedAndProject, ``bm25_wand_topk_batch`` merges per query_id; they
answer above the cap and are the registry gates' path.
A Spark query is ONE job end-to-end (stats cached, blocks scanned once);
the doc-sharded layout means each shard scores its own disjoint doc set
with complete information — no cross-shard traffic except the final
k-row merge (the classic distributed-search fan-out; scales to 1000
executors by raising n_shards).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iscc_search_spark.catalog import IndexCatalog, check_format
from iscc_search_spark.functions import codec
from iscc_search_spark.functions.textnorm import tokenize_py
from iscc_search_spark.operators.build import _bucket_of
from iscc_search_spark.session import arrow_frame

# driver-side term-stats cache cap: at web scale (~10^8-10^9 distinct terms)
# the full table no longer fits a driver comfortably — above the cap the
# reader falls back to bucket-pruned distributed lookups per query batch
_STATS_CACHE_MAX_ROWS = 20_000_000

# driver-side cap on the bytes a reader's table caches hold (units and the
# band tables behind search_similar / search_granular, 8 B a cell; the docs
# sidecar columns behind search(with_metadata) / get_doc, in Arrow bytes;
# separate from the 256 MB posting-bucket cache); a table that would push
# the cache past it is not cached and those queries run as Spark jobs.
# Peak memory of one fill is about 3x the table's cached bytes (the Arrow
# table, its numpy columns and the sorted copies coexist until it returns);
# fills run one at a time per reader, so that peak is paid once at a time.
_SIM_CACHE_BYTES = 256 * 1024 * 1024


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
    relation (one parquet listing per open, not per query), plus lazily
    filled caches of posting buckets, of the derived similarity tables and
    of the docs sidecar columns.

    upsert_docs/delete_docs rewrite postings/term_stats/meta in place; a
    long-lived reader detects this via the meta.json mtime (one os.stat per
    query — the version check every query entry point calls) and reloads
    its caches, so serving processes never score with stale df/avgdl or
    vanished part-files.  A reload builds the new state in locals and
    publishes it under a lock, mtime last: a concurrent query either sees
    the old mtime (and waits for the reload) or the complete new state."""

    def __init__(self, spark: SparkSession, index_dir: str):
        import threading

        self.spark = spark
        self.cat = IndexCatalog(index_dir)
        self._reload_lock = threading.Lock()
        self._sim_lock = threading.Lock()  # one derived-table fill at a time
        self._open()

    def _open(self) -> None:
        import os

        mtime = os.stat(self.cat.meta_path).st_mtime_ns
        meta = self.cat.read_meta()
        check_format(meta, "IndexReader")
        stats = self._read_stats()
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
        self._sim_cache: dict[str, dict | None] = {}
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

    # derived tables for the similarity queries, as numpy columns sorted
    # for searchsorted lookups: units by doc_id, the band tables by (band,
    # key); and the docs sidecar columns that search(with_metadata) and
    # get_doc return, by doc_id.  Each is filled by one pyarrow read on its
    # first call, never in _open (a reader open must stay cheap).
    _SIM_TABLES = {
        "units": (("doc_id", "content_sh", "data_sh", "instance"), ("doc_id",)),
        "unit_bands": (("band", "key", "doc_id"), ("band", "key")),
        "simprint_bands": (
            ("band", "key", "doc_id", "seg_idx", "simhash", "sh_lo"),
            ("band", "key"),
        ),
        "docs": (
            ("doc_id", "url", "lang", "simhash", "doc_len", "instance"),
            ("doc_id",),
        ),
    }

    def sim_tables(self, *names: str) -> list[dict] | None:
        """The named tables, all from one index version; None when one is
        missing, holds nulls (docs: a null or duplicated doc_id), or would
        push the cache past _SIM_CACHE_BYTES (the caller then answers
        through Spark)."""
        cache = self._sim_cache  # this version's cache, even mid-reload
        out = []
        for name in names:
            if name not in cache:
                with self._sim_lock:  # check-and-fill: one load per table
                    if name not in cache:
                        cache[name] = self._load_sim_table(name, cache)
            if cache[name] is None:
                return None
            out.append(cache[name])
        return out

    def _load_sim_table(self, name: str, cache: dict) -> dict | None:
        """One table's sorted columns (called under _sim_lock, so the
        budget check sees every table this cache holds)."""
        import os

        import pyarrow.dataset as ds

        cols, keys = self._SIM_TABLES[name]
        path = self.cat.path(name)
        if not os.path.isdir(path):
            return None
        d = ds.dataset(path, format="parquet", partitioning="hive")
        n = d.count_rows()
        used = sum(a.nbytes for t in cache.values() if t for a in t.values())
        # 8 B a cell is exact for the numpy columns and a lower bound for
        # strings: the docs columns are checked again once read
        if used + 8 * len(cols) * n > _SIM_CACHE_BYTES:
            return None
        if name == "docs":
            return _docs_columns(d.to_table(columns=list(cols)), used)
        if n == 0:
            return {c: np.empty(0, np.int64) for c in cols}
        t = d.to_table(columns=list(cols))
        if any(t.column(c).null_count for c in cols):
            return None
        arrays = {c: t.column(c).to_numpy() for c in cols}
        order = np.lexsort([arrays[c] for c in reversed(keys)])
        return {c: a[order] for c, a in arrays.items()}

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


def _docs_columns(t, used: int) -> dict | None:
    """The docs sidecar sorted by doc_id: doc_id as numpy (searchsorted
    keys), the rest as Arrow arrays, nulls kept (rows are gathered with
    ``take``).  None for a null or duplicated doc_id, where one lookup
    would answer for what a join returns as several rows, and when the
    Arrow bytes would pass _SIM_CACHE_BYTES."""
    if t.column("doc_id").null_count:
        return None
    ids = t.column("doc_id").to_numpy()
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    if len(ids) and (ids[1:] == ids[:-1]).any():
        return None
    t = t.take(order)
    out = {"doc_id": ids}
    out.update({c: t.column(c).combine_chunks() for c in t.column_names[1:]})
    if used + sum(a.nbytes for a in out.values()) > _SIM_CACHE_BYTES:
        return None
    return out


def docs_rows(docs: dict, doc_ids: np.ndarray) -> dict:
    """The cached docs columns gathered at ``doc_ids`` (Arrow arrays; a
    doc_id not in the table gets nulls, like a left join)."""
    ids = docs["doc_id"]
    pos = np.searchsorted(ids, doc_ids)
    hit = pos < len(ids)
    hit[hit] = ids[pos[hit]] == doc_ids[hit]
    idx = pa.array(np.where(hit, pos, 0), pa.int64(), mask=~hit)
    return {c: a.take(idx) for c, a in docs.items() if c != "doc_id"}


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


def _query_idf(
    r: IndexReader, queries: dict[int, str]
) -> tuple[dict[str, int], dict[int, dict[str, float]]]:
    """Query prep shared by every entry point: tokenize, exact df, idf.

    Returns (df per indexed query term, {query_id: {term: idf}}); queries
    with no indexed term are dropped, so an empty map means no answer."""
    r.ensure_fresh()
    q_terms = {qid: sorted(set(tokenize_py(q))) for qid, q in queries.items()}
    all_terms = sorted({t for ts in q_terms.values() for t in ts})
    if not all_terms or r.n_docs == 0:
        return {}, {}
    term_df = r.term_dfs(all_terms)
    idf = r.idf(term_df)
    query_idf = {
        qid: {t: idf[t] for t in ts if t in idf} for qid, ts in q_terms.items()
    }
    return term_df, {qid: m for qid, m in query_idf.items() if m}


def _decode_term_blocks(
    g: pd.DataFrame, k1: float, b: float, avgdl: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """One term's blocks -> (block_max, block_len, doc_ids, tfnorm), the
    last two concatenated over the blocks in stored order.

    The block upper bound is computed HERE from the stored (max_tf, min_dl)
    metadata under the CURRENT corpus avgdl: tfnorm is increasing in tf and
    decreasing in dl, so tfnorm(max_tf, min_dl) dominates every posting in
    the block for any avgdl — which is what keeps incremental upserts (that
    shift avgdl) from invalidating untouched blocks."""
    bms, ids, tfns = [], [], []
    for n, min_doc, doc_buf, tf_buf, dl_buf, mtf, mdl in zip(
        g["n"], g["min_doc"], g["doc_ids"], g["tfs"], g["dls"],
        g["max_tf"].to_numpy(), g["min_dl"].to_numpy(),
    ):
        n = int(n)
        ids.append(decode_block_ids(int(min_doc), n, doc_buf))
        tf = codec.for_unpack(tf_buf, n).view(np.int64).astype(np.float64)
        dl = codec.for_unpack(dl_buf, n).view(np.int64).astype(np.float64)
        tfns.append((tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl)))
        bms.append(
            (float(mtf) * (k1 + 1.0))
            / (float(mtf) + k1 * (1.0 - b + b * float(mdl) / avgdl))
        )
    lens = g["n"].to_numpy(np.int64)
    return np.array(bms), lens, np.concatenate(ids), np.concatenate(tfns)


def _shard_scorer(
    query_idf: dict[int, dict[str, float]], k1: float, b: float, avgdl: float, k: int
):
    """Per-shard scorer (applyInPandas) for a query batch — the only BM25
    scorer over postings; a single query is a batch of one, ``{0: idf}``.

    Dense-accumulator term-at-a-time (TAAT): every posting block of every
    requested term is decoded exactly once and ALIGNED once into the
    shard's dense candidate-doc space (position array + tfnorm array per
    term); each query is then a handful of fancy-indexed adds into a dense
    accumulator plus one top-k partition.  Queries with IDENTICAL (term,
    idf) signatures are scored once and fanned out.

    Block-max pruning, per signature: a block B of term t is skipped iff
        idf_t * block_max(B) + sum_{t' != t} U_t'  <  theta - eps
    where U_t' is the max impact of term t' in the shard, theta a lower
    bound on the shard's k-th best total score, bootstrapped from the
    exact single-term contributions of the signature's rarest term.  Any
    doc in a skipped block has true score < theta, so every doc of the
    true top k is fully accumulated and the pruning is EXACT — the WAND
    invariant (SURVEY.md §7.5 #3); the epsilon guard keeps the
    float-rounded bound strictly conservative.

    Result-identity: scores accumulate per doc in ascending term order
    (the oracle's ordered sum), so outputs are bit-identical to the oracle.
    The dense accumulator is sized by the shard's CANDIDATE doc count,
    which shard sizing bounds (a shard is never the corpus).
    """

    def score(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        terms = {
            t: _decode_term_blocks(g, k1, b, avgdl)
            for t, g in pdf.groupby("term", sort=False)
        }
        # dense shard candidate space: union of all batch terms' doc ids
        all_ids = np.unique(
            np.concatenate(
                [np.empty(0, np.int64)] + [d for _, _, d, _ in terms.values()]
            )
        )
        pos = {t: np.searchsorted(all_ids, d) for t, (_, _, d, _) in terms.items()}
        top_bm = {t: float(bms.max()) for t, (bms, _, _, _) in terms.items()}

        sig_qids: dict[tuple, list[int]] = {}
        for qid, idf in query_idf.items():
            present = tuple(sorted(t for t in idf if t in terms))
            if present:
                sig = (present, tuple(idf[t] for t in present))
                sig_qids.setdefault(sig, []).append(qid)

        acc = np.zeros(len(all_ids), dtype=np.float64)
        out_qid = [np.empty(0, np.int64)]
        out_doc = [np.empty(0, np.int64)]
        out_score = [np.empty(0, np.float64)]
        for (present, idfs), qids in sig_qids.items():
            w = dict(zip(present, idfs))
            u = {t: w[t] * top_bm[t] for t in present}
            sum_u = sum(u.values())
            theta = -np.inf
            if len(present) > 1 and k > 0:
                rarest = min(present, key=lambda t: len(pos[t]))
                s0 = w[rarest] * terms[rarest][3]
                if len(s0) >= k:
                    theta = float(np.partition(s0, -k)[-k])
            eps = 1e-9 * (1.0 + abs(theta)) if np.isfinite(theta) else 0.0

            acc[:] = 0.0
            for t in present:  # ascending-term order -> ordered accumulation
                bms, lens, _, tfn = terms[t]
                p = pos[t]
                if np.isfinite(theta) and w[t] > 0:
                    # keep block iff idf_t*bm + rest >= theta - eps
                    keep = bms >= (theta - eps - (sum_u - u[t])) / w[t]
                    if not keep.all():
                        mask = np.repeat(keep, lens)
                        p, tfn = p[mask], tfn[mask]
                acc[p] += w[t] * tfn
            touched = np.flatnonzero(acc)
            kk = min(k, len(touched))
            if kk < 1:
                continue
            scores = acc[touched]
            docs = all_ids[touched]
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

        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_qid),
                "doc_id": np.concatenate(out_doc),
                "score": np.concatenate(out_score),
            }
        )

    return score


_SCORES = "query_id long, doc_id long, score double"

# a query batch whose terms together touch at most this many postings is
# answered driver-side (pyarrow row-group-pruned read + the same numpy
# scorer) — the serving fast path, mirroring the reference's single-node
# LMDB reads; bigger candidate sets fall back to the distributed path
# (enforced below: a Zipf head-term query must not materialize its blocks
# on the driver)
_LOCAL_POSTINGS_CAP = 5_000_000


def _local_topk(
    r: IndexReader, queries: dict[int, str], k: int
) -> pd.DataFrame | None:
    """(query_id, rank, doc_id, score) of a query batch, ZERO Spark jobs:
    the batch's candidate blocks (cached buckets, a pyarrow read on a
    miss) score as ONE "shard" through the same kernel.  Each query's
    rows come out of the kernel contiguous and in rank order.  None when
    the batch's terms together touch more than _LOCAL_POSTINGS_CAP
    postings (the caller then runs the Spark operator)."""
    term_df, query_idf = _query_idf(r, queries)
    if sum(term_df.values()) > _LOCAL_POSTINGS_CAP:
        return None

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
    pdf = (
        pd.concat(parts, ignore_index=True)
        if parts
        else pd.DataFrame(columns=IndexReader._BLOCK_COLS)
    )
    out = _shard_scorer(query_idf, r.k1, r.b, r.avgdl, k)((None,), pdf)
    qid = out["query_id"].to_numpy()
    first = np.ones(len(qid), dtype=bool)  # each query's first (top) row
    first[1:] = qid[1:] != qid[:-1]
    start = np.flatnonzero(first)
    run_len = np.diff(start, append=len(qid))
    out.insert(1, "rank", np.arange(1, len(qid) + 1) - np.repeat(start, run_len))
    return out


def bm25_wand_topk_local(
    index: IndexReader, query: str, k: int = 10
) -> pd.DataFrame:
    """(rank, doc_id, score) pandas result, ZERO Spark jobs.

    Bit-identical to the distributed path: the whole candidate set scores
    as ONE "shard" through the same kernel (sharding only partitions docs;
    each doc's term-ordered sum is unchanged).  Queries whose candidate
    postings exceed _LOCAL_POSTINGS_CAP fall back to the distributed
    scorer (same result, executor-side memory).
    """
    out = _local_topk(index, {0: query}, k)
    if out is None:
        return bm25_wand_topk(index.spark, index, query, k).toPandas()
    return out.iloc[:, 1:]  # without query_id


def bm25_wand_topk(
    spark: SparkSession,
    index: str | IndexReader,
    query: str,
    k: int = 10,
) -> DataFrame:
    """(rank, doc_id, score) top-k; pass an IndexReader to amortize the
    index open (meta + stats cache + file listing) across queries."""
    r = _as_reader(spark, index)
    term_df, query_idf = _query_idf(r, {0: query})
    if not query_idf:
        return arrow_frame(spark, [], "rank long, doc_id long, score double")

    blocks = r.candidate_blocks(sorted(term_df))
    local_topk = blocks.groupBy("shard").applyInPandas(
        _shard_scorer(query_idf, r.k1, r.b, r.avgdl, k), _SCORES
    )
    topk = local_topk.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "doc_id", "score"
    )


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
    term_df, query_idf = _query_idf(r, queries)
    if not query_idf:
        return arrow_frame(
            spark, [], "query_id long, rank long, doc_id long, score double"
        )

    blocks = r.candidate_blocks(sorted(term_df))
    local = blocks.groupBy("shard").applyInPandas(
        _shard_scorer(query_idf, r.k1, r.b, r.avgdl, k), _SCORES
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
