"""Resumable inverted-index build (the reference's write path, Spark-first).

Two stages, mirroring the reference's "LMDB source of truth + rebuildable
derived indexes" model (docs/explanation/architecture.md:117-118):

Stage A — **docs** (resumable, checkpointed).  Input pages are hashed into
``n_parts`` deterministic partitions (pmod(xxhash64(url))); one fused
Arrow UDF pass tokenizes each page into (terms, tfs, positions, doc_len,
simhash) and writes a single ``docs`` table partitioned by part — the
rebuildable source of truth.  Each committed partition gets an
order-independent content fingerprint row in ``_checkpoints`` (xor of JVM
xxhash64(url,text) per row — pure codegen, no Python); a re-run skips
fingerprint-matched partitions — the Spark analogue of the reference's
idempotent no-op fast path (iscc_search/indexes/usearch/index.py:311-336,
564-587: BLAKE2b over sorted simprint triples; equally order-independent).
On a FRESH build (no checkpoints) the input pre-scan is skipped entirely:
fingerprints are aggregated from the just-written docs table (row hashes
are computed JVM-side in the same job that writes), so the corpus is read
and tokenized exactly ONCE.

Stage B — **postings + term_stats + meta** (derived, deterministic,
idempotent full overwrite from docs).  Document-sharded layout: every doc
belongs to shard pmod(xxhash64(doc_id), n_shards); each (shard, term)
posting run is sorted ascending by doc_id and packed into fixed-size
blocks — FOR-bitpacked doc-id deltas / tfs / doc_lens plus a varbyte
positions payload (token positions per occurrence, the analogue of the
reference's chunk-pointer posting values, lmdb_ops.py:24-64) — with
per-block max-impact metadata (block-max WAND).  Doc-sharding IS the
head-term salting demanded by the north rule: a Zipf head term's postings
are split across all shards by a deterministic, score-invisible doc hash
and merge losslessly at query time (replacing the reference's lossy
dup_limit=1000 cap, lmdb_ops.py:139-166).  Corpus stats (n_docs, avgdl)
come from the checkpoint rows — no extra aggregation job — and term_stats
is derived from the encoded blocks' headers (bucket, term, n), never from
a corpus re-scan.  Upsert/delete run the same stage B restricted to the
doc-hash shards of the changed docs (``build_postings(shards=...)``).

Scale notes (100 TB / 10^12 docs):
- Stage A is one scan per resume-group writing columnar docs — the
  expensive tokenize work is checkpointed, never repeated.
- Stage B shuffles once on (shard, term); AQE splits skewed reducers, and
  the term space is secondarily split by ``build_fanout`` so no reducer
  ever materializes an unbounded group (blocks don't require global order
  — WAND sorts block metadata).
- Posting blocks carry doc_len inline so query scoring never joins the
  docs table (a 10^12-row join per query would dominate latency).
- All stats are exact (rank-identity forbids approximation).
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iscc_search_spark.catalog import FORMAT_VERSION, IndexCatalog, check_format
from iscc_search_spark.config import DEFAULT, EngineConfig
from iscc_search_spark.functions import codec
from iscc_search_spark.functions.hashing import doc_id_udf, instance_expr
from iscc_search_spark.functions.textnorm import tok_tf_lean_udf, tok_tf_simhash_udf

# per-block metadata stores (max_tf, min_dl) instead of a precomputed
# max-tfnorm: tfnorm is increasing in tf and decreasing in dl, so
# tfnorm(max_tf, min_dl) under the CURRENT corpus avgdl is a valid block
# upper bound for ANY avgdl — incremental upserts may shift avgdl without
# invalidating untouched blocks' metadata (the full-rebuild alternative
# would re-encode the world to refresh a float)
POSTINGS_SCHEMA = (
    "shard int, bucket int, term string, block_id int, n int, "
    "min_doc long, max_doc long, doc_ids binary, tfs binary, dls binary, "
    "poss binary, max_tf int, min_dl long"
)


# frozen band counts of the persisted LSH lookup tables (stage C):
# 17 unit bands <=> lossless for the 0.75 unit-confidence threshold
# (hamming <= 16); 13 simprint bands over the 128-bit segment simprints
# <=> lossless for max_hamming <= 12 at ~10-bit keys (the 64-bit hash
# gave ~5-bit keys — a 0.79-0.90 measured candidate fraction at h=12)
UNIT_BANDS = 17
SEG_BANDS = 13


@dataclass
class BuildResult:
    n_docs: int
    avgdl: float
    parts_built: list[int]
    parts_skipped: list[int]
    secs: float


# --- stage A: docs with per-partition checkpoints -----------------------------


def _row_hash_cols():
    """Two independent 64-bit JVM row hashes over (url, text) — the
    fingerprint halves.  Pure codegen: the fingerprint pre-scan costs a
    columnar read + xxhash64, never a Python round-trip."""
    return (
        F.xxhash64("url", "text").alias("h1"),
        F.xxhash64("text", "url").alias("h2"),
    )


def _fingerprints(pages: DataFrame) -> dict[int, tuple[int, int, int]]:
    """part -> (xor_h1, xor_h2, n_docs): order-independent content hash,
    computed entirely JVM-side (used only on RESUME — fresh builds derive
    fingerprints from the written docs table instead of pre-scanning)."""
    h1, h2 = _row_hash_cols()
    rows = (
        pages.groupBy("part")
        .agg(
            F.bit_xor(h1).alias("hi"),
            F.bit_xor(h2).alias("lo"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    return {int(r["part"]): (int(r["hi"]), int(r["lo"]), int(r["n"])) for r in rows}


def _read_checkpoint_rows(spark: SparkSession, cat: IndexCatalog) -> dict[int, dict]:
    """part -> latest checkpoint row (deterministic: max ``seq`` wins; the
    append-only dir may hold stale rows from earlier content states).

    Read driver-side via pyarrow: the table is tiny (one row per input
    partition) and this keeps checkpoint resolution off the Spark job queue
    (and away from Spark's hidden-path filter on ``_``-prefixed dirs).
    """
    import glob
    import os

    files = sorted(glob.glob(os.path.join(cat.checkpoints, "*.parquet")))
    if not files:
        return {}
    t = pa.concat_tables([pq.read_table(f) for f in files])
    out: dict[int, dict] = {}
    for d in t.to_pylist():
        p = int(d["part"])
        if p not in out or d["seq"] > out[p]["seq"]:
            out[p] = d
    return out


def _append_checkpoints(cat: IndexCatalog, rows: list[dict]) -> None:
    import os
    import uuid

    if not rows:
        return
    os.makedirs(cat.checkpoints, exist_ok=True)
    t = pa.table(
        {
            "part": pa.array([r["part"] for r in rows], pa.int32()),
            "hi": pa.array([r["hi"] for r in rows], pa.int64()),
            "lo": pa.array([r["lo"] for r in rows], pa.int64()),
            "n_docs": pa.array([r["n_docs"] for r in rows], pa.int64()),
            "sum_dl": pa.array([r["sum_dl"] for r in rows], pa.int64()),
            "n_parts": pa.array([r["n_parts"] for r in rows], pa.int32()),
            "seq": pa.array([r["seq"] for r in rows], pa.int64()),
            "secs": pa.array([r["secs"] for r in rows], pa.float64()),
        }
    )
    pq.write_table(t, os.path.join(cat.checkpoints, f"ckpt-{uuid.uuid4().hex}.parquet"))


def _compact_checkpoints(cat: IndexCatalog, rows: dict[int, dict]) -> None:
    """Rewrite the checkpoint dir as one file holding only the live rows."""
    import glob
    import os

    old = glob.glob(os.path.join(cat.checkpoints, "*.parquet"))
    _append_checkpoints(cat, list(rows.values()))
    for f in old:
        os.remove(f)


def _append_metrics(cat: IndexCatalog, rows: list[dict]) -> None:
    import os
    import uuid

    if not rows:
        return
    os.makedirs(cat.metrics, exist_ok=True)
    cols = {k: [r[k] for r in rows] for k in rows[0]}
    pq.write_table(pa.table(cols), os.path.join(cat.metrics, f"m-{uuid.uuid4().hex}.parquet"))


def _normalize_input(pages: DataFrame) -> DataFrame:
    """Accept either a pages table (url-keyed; doc_id derived via blake2b)
    or a documents table (doc_id-keyed; synthetic doc:// url)."""
    cols = set(pages.columns)
    lang = F.col("lang") if "lang" in cols else F.lit("und")
    if "url" in cols:
        out = pages.select(
            "url", F.col("text"), lang.alias("lang")
        ).withColumn("doc_id", doc_id_udf("url"))
    elif "doc_id" in cols:
        out = pages.select(
            F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
            "text",
            lang.alias("lang"),
            "doc_id",
        )
    else:
        raise ValueError("input needs a url or doc_id column")
    return out


def _overwrite(df: DataFrame, partition_mode: str):
    """``df.write`` in overwrite mode with the partition-overwrite mode set
    on THIS write only: ``"static"`` replaces the whole table dir,
    ``"dynamic"`` only the partition dirs the output touches.  The write
    option wins over ``spark.sql.sources.partitionOverwriteMode``, so
    concurrent writers (stage B next to stage C, an upsert next to a
    serving query) never race on a session-wide flip, and the caller's
    session conf is left as it was."""
    return df.write.mode("overwrite").option("partitionOverwriteMode", partition_mode)


def build_segments(
    spark: SparkSession,
    pages: DataFrame,
    cat: IndexCatalog,
    cfg: EngineConfig = DEFAULT,
    n_parts: int = 16,
    group_size: int = 8,
    resume: bool = True,
    run_id: str = "run",
    fail_after_groups: int | None = None,
    derived: bool = True,
) -> tuple[list[int], list[int]]:
    """Stage A.  Returns (parts_built, parts_skipped).

    ``derived=False`` runs the lean tokenize pass (null similarity
    columns) for postings-only builds.  ``fail_after_groups`` injects a
    mid-build crash for the kill/rerun resumability test (FIXTURES.md §6).
    """
    import shutil

    pages_p = _normalize_input(pages).withColumn(
        "part", F.pmod(F.xxhash64("url"), F.lit(n_parts)).cast("int")
    )
    if not resume:
        shutil.rmtree(cat.docs, ignore_errors=True)
        shutil.rmtree(cat.checkpoints, ignore_errors=True)
    have = _read_checkpoint_rows(spark, cat) if resume else {}
    if have:
        rec_parts = {int(r["n_parts"]) for r in have.values()}
        if rec_parts != {n_parts}:
            raise ValueError(
                f"index dir was built with n_parts={sorted(rec_parts)}, "
                f"got {n_parts}; use resume=False for a clean rebuild"
            )
        # resume: one JVM pre-scan to diff input vs committed state
        want = _fingerprints(pages_p)
        skipped = sorted(
            p
            for p in want
            if p in have
            and (have[p]["hi"], have[p]["lo"], have[p]["n_docs"]) == want[p]
        )
        missing = sorted(set(want) - set(skipped))
        # stale parts: committed earlier, absent from the current input —
        # delete their docs partitions and checkpoint rows or they would
        # leak into stage B's corpus stats and postings
        stale = sorted(set(have) - set(want))
        if stale:
            import os

            for p in stale:
                shutil.rmtree(os.path.join(cat.docs, f"part={p}"), ignore_errors=True)
                have.pop(p, None)
            _compact_checkpoints(cat, have)
    else:
        # fresh build: every part is built; NO pre-scan — fingerprints are
        # derived from the written docs (row hashes computed in-pass)
        skipped = []
        missing = list(range(n_parts))

    built: list[int] = []
    groups = [missing[i : i + group_size] for i in range(0, len(missing), group_size)]
    h1, h2 = _row_hash_cols()
    for gi, group in enumerate(groups):
        if fail_after_groups is not None and gi >= fail_after_groups:
            raise RuntimeError(f"injected failure before group {gi}")
        t0 = time.time()
        pg = pages_p.filter(F.col("part").isin(group))
        # Cluster rows by part BEFORE the fused UDF: each write task then
        # owns whole part dirs -> one file per partition (measured: 41
        # tasks x 32 dirs produced ~1300 tiny files whose driver-side commit
        # and later listing erased all scaling).  RANGE partitioning, not
        # hash: hashing k distinct part values into k slots leaves ~1/e of
        # the slots empty and doubles others (birthday collisions), so the
        # tokenize stage ran at ~60% parallelism with 2x stragglers; range
        # boundaries give ~one part per task.  ONE fused UDF pass writes
        # the single docs table — terms, tfs, positions, doc_len, simhash
        # AND the JVM row-hash fingerprint columns in the same job.
        tok = tok_tf_simhash_udf if derived else tok_tf_lean_udf
        enc = pg.repartitionByRange(len(group), "part").withColumn(
            "tt", tok("text")
        )
        docs = enc.select(
            "part",
            "doc_id",
            "url",
            "lang",
            h1,
            h2,
            F.col("tt.doc_len").alias("doc_len"),
            F.col("tt.simhash").alias("simhash"),
            instance_expr("text").alias("instance"),
            F.col("tt.data_sh").alias("data_sh"),
            F.col("tt.segs").alias("segs"),
            F.col("tt.terms").alias("terms"),
            F.col("tt.tfs").alias("tfs"),
            F.col("tt.pos_blob").alias("pos_blob"),
            F.col("tt.pos_offs").alias("pos_offs"),
        )
        # dynamic partition overwrite -> idempotent retry per group
        _overwrite(docs, "dynamic").partitionBy("part").parquet(cat.docs)

        # per-part fingerprint + corpus stats from the JUST-WRITTEN group
        # partitions: a 4-column scan of compact parquet, no re-tokenize
        agg = (
            spark.read.parquet(cat.docs)
            .filter(F.col("part").isin(group))
            .groupBy("part")
            .agg(
                F.bit_xor("h1").alias("hi"),
                F.bit_xor("h2").alias("lo"),
                F.count("*").alias("n_docs"),
                F.sum("doc_len").alias("sum_dl"),
            )
            .collect()
        )
        secs = time.time() - t0
        seq = time.time_ns()
        ck = [
            {
                "part": int(r["part"]),
                "hi": int(r["hi"]),
                "lo": int(r["lo"]),
                "n_docs": int(r["n_docs"]),
                "sum_dl": int(r["sum_dl"]),
                "n_parts": n_parts,
                "seq": seq,
                "secs": secs / max(len(group), 1),
            }
            for r in agg
        ]
        _append_checkpoints(cat, ck)
        _append_metrics(
            cat,
            [
                {
                    "run_id": run_id,
                    "stage": "segments",
                    "part": r["part"],
                    "docs": r["n_docs"],
                    "secs": r["secs"],
                }
                for r in ck
            ],
        )
        built.extend(group)
    return built, skipped


# --- stage C: derived similarity tables (units, simprints) --------------------
# The reference stores ONE derived index per unit/simprint type, rebuildable
# from the source of truth (iscc_search/indexes/usearch/index.py:1602-1648;
# docs/explanation/architecture.md:117-118).  Here the derived tables are
# PROJECTIONS of the docs table (all similarity values were computed in the
# stage-A pass), laid out for their query shapes:
#   units/part=N      sorted by content_sh -> row-group stats prune binary
#                     unit-prefix range scans (J2) within every part file;
#   simprints/part=N  segments exploded to rows, sorted by simhash.
# Partitioning by the SAME url-part as docs makes upsert/delete maintenance
# a targeted per-partition rewrite (no shuffle beyond the affected parts).


def build_derived(
    spark: SparkSession,
    cat: IndexCatalog,
    parts: list[int] | None = None,
) -> None:
    """Write/refresh the units + simprints tables from docs.

    ``parts=None`` -> full rebuild (clean overwrite of both tables);
    ``parts=[...]`` -> rewrite only those part dirs (upsert/delete path)."""
    import os
    import shutil

    if parts is not None and not parts:
        return
    docs = spark.read.parquet(cat.docs)
    tables = (cat.units, cat.simprints, cat.unit_bands, cat.simprint_bands)
    if parts is None:
        # full overwrite must not leave stale part dirs behind; cleared
        # dirs -> static committer (no per-partition staging moves)
        for t in tables:
            shutil.rmtree(t, ignore_errors=True)
        # the retired two-band-combo table of format-5 builds; upserts
        # leave a leftover dir alone (nothing reads it)
        shutil.rmtree(cat.path("simprint_bands2"), ignore_errors=True)
        mode = "static"
        n = max(len(_read_checkpoint_rows(spark, cat)), 1)
    else:
        mode = "dynamic"
        docs = docs.filter(F.col("part").isin(list(parts)))
        n = max(len(parts), 1)
        for p in parts:  # clear affected dirs (a part may become empty)
            for t in tables:
                shutil.rmtree(os.path.join(t, f"part={p}"), ignore_errors=True)

    # The four table writes below share nothing but the docs scan — they
    # are submitted from a small thread pool (guide-§2.6 overlap) so the
    # tail of one write's stage back-fills cores for the next instead of
    # serializing four jobs.  FIFO scheduling keeps the earlier job's
    # tasks first; the pool is joined (and any failure re-raised) before
    # returning.
    write_jobs = []

    units = docs.select(
        "part",
        "doc_id",
        F.col("simhash").alias("content_sh"),
        "data_sh",
        "instance",
    )
    write_jobs.append(
        (
            "derived: units",
            units.repartitionByRange(n, "part").sortWithinPartitions("part", "content_sh"),
            cat.units,
        )
    )
    sp = docs.select("part", "doc_id", F.explode("segs").alias("s")).select(
        "part",
        "doc_id",
        F.col("s.seg_idx").alias("seg_idx"),
        F.col("s.n_tokens").alias("n_tokens"),
        F.col("s.offset").alias("offset"),
        F.col("s.size").alias("size"),
        F.col("s.simhash").alias("simhash"),
        F.col("s.sh_lo").alias("sh_lo"),
    )
    write_jobs.append(
        (
            "derived: simprints",
            sp.repartitionByRange(n, "part").sortWithinPartitions("part", "simhash"),
            cat.simprints,
        )
    )

    # LSH band-key LOOKUP tables: candidate fetch for the similarity
    # queries becomes a keyed read (row-group pruned on the sorted (band,
    # key) prefix within every part file), not a scan-plus-filter — the
    # reference's one-lookup-structure-per-unit-type model.  Banding is
    # FROZEN at write time: units at 17 bands (lossless for the 0.75
    # confidence threshold <=> hamming <= 16) + data bands + one exact
    # instance band; simprints at 13 bands (lossless for max_hamming <=
    # 12, the highest threshold the granular gate serves).
    from iscc_search_spark.operators.simprints import band_widths

    def band_entries(hash_col, n_bands, base):
        out = []
        for i, (shift, w) in enumerate(band_widths(n_bands)):
            out.append(
                F.struct(
                    F.lit(base + i).alias("band"),
                    F.shiftrightunsigned(hash_col, shift)
                    .bitwiseAND(F.lit((1 << w) - 1))
                    .alias("key"),
                )
            )
        return out

    # ONE docs scan; the 35 (band, key) rows per doc come from a JVM
    # explode of struct literals (35 unioned selects would re-scan docs
    # per band at 10^12 rows)
    entries = (
        band_entries(F.col("simhash"), UNIT_BANDS, 0)
        + band_entries(F.col("data_sh"), UNIT_BANDS, UNIT_BANDS)
        + [
            F.struct(
                F.lit(2 * UNIT_BANDS).alias("band"),
                F.col("instance").alias("key"),  # exact-match band
            )
        ]
    )
    ub = docs.select(
        "part", "doc_id", F.explode(F.array(*entries)).alias("e")
    ).select("part", "doc_id", F.col("e.band").alias("band"), F.col("e.key").alias("key"))
    write_jobs.append(
        (
            "derived: unit_bands",
            ub.repartitionByRange(n, "part").sortWithinPartitions("part", "band", "key"),
            cat.unit_bands,
        )
    )

    # segment simprints are 128-bit: band keys slice the (hi, lo) limb
    # pair into SEG_BANDS ~10-bit windows (band_key128_expr handles the
    # limb-spanning slices) — same one-scan explode shape
    from iscc_search_spark.operators.simprints import SIMPRINT_BITS, band_key128_expr

    seg_entries = [
        F.struct(
            F.lit(i).alias("band"),
            band_key128_expr("simhash", "sh_lo", shift, w).alias("key"),
        )
        for i, (shift, w) in enumerate(band_widths(SEG_BANDS, SIMPRINT_BITS))
    ]
    sb = sp.select(
        "part", "doc_id", "seg_idx", "simhash", "sh_lo",
        F.explode(F.array(*seg_entries)).alias("e"),
    ).select(
        "part", "doc_id", "seg_idx", "simhash", "sh_lo",
        F.col("e.band").alias("band"), F.col("e.key").alias("key"),
    )
    write_jobs.append(
        (
            "derived: simprint_bands",
            sb.repartitionByRange(n, "part").sortWithinPartitions("part", "band", "key"),
            cat.simprint_bands,
        )
    )

    from concurrent.futures import ThreadPoolExecutor

    def _run(job):
        desc, df, path = job
        spark.sparkContext.setJobDescription(desc)
        try:
            _overwrite(df, mode).partitionBy("part").parquet(path)
        finally:
            spark.sparkContext.setJobDescription(None)

    with ThreadPoolExecutor(max_workers=3) as pool:
        for f in [pool.submit(_run, j) for j in write_jobs]:
            f.result()


def load_units(spark: SparkSession, index_dir: str) -> DataFrame:
    """(doc_id, content_sh, data_sh, instance) from the persisted table."""
    cat = IndexCatalog(index_dir)
    return spark.read.parquet(cat.units).select(
        "doc_id", "content_sh", "data_sh", "instance"
    )


def load_simprints(spark: SparkSession, index_dir: str) -> DataFrame:
    """(doc_id, seg_idx, n_tokens, offset, size, simhash, sh_lo)
    persisted — simhash/sh_lo are the 128-bit simprint's limbs."""
    cat = IndexCatalog(index_dir)
    check_format(cat.read_meta(), "load_simprints")
    return spark.read.parquet(cat.simprints).select(
        "doc_id", "seg_idx", "n_tokens", "offset", "size", "simhash", "sh_lo"
    )


def load_unit_bands(spark: SparkSession, index_dir: str) -> DataFrame:
    """(doc_id, band, key) LSH lookup rows: bands 0..16 = content,
    17..33 = data, 34 = exact instance (key = the instance value)."""
    cat = IndexCatalog(index_dir)
    return spark.read.parquet(cat.unit_bands).select("doc_id", "band", "key")


def load_simprint_bands(spark: SparkSession, index_dir: str) -> DataFrame:
    """(doc_id, seg_idx, simhash, sh_lo, band, key) LSH lookup rows
    (13 ~10-bit bands over the 128-bit simprint)."""
    cat = IndexCatalog(index_dir)
    return spark.read.parquet(cat.simprint_bands).select(
        "doc_id", "seg_idx", "simhash", "sh_lo", "band", "key"
    )


# --- stage B: derived postings ------------------------------------------------


def _encode_blocks_fn(cfg: EngineConfig):
    """Shard-group block encoder (applyInPandas on (shard, tgroup)).

    One Python call per group, not per term: rows are lexsorted by
    (term, doc_id) in numpy, block boundaries derived vectorized, and the
    whole group is packed in ONE FOR/varbyte pass each for doc-id deltas,
    tfs, doc_lens and positions (per-block buffer slices afterwards).  At
    10^12 docs the group size is bounded by the ``build_fanout`` secondary
    split of the term space (tgroup), not by the corpus — no reducer
    materializes an unbounded group.
    """
    block_size = cfg.block_size
    n_buckets = cfg.term_buckets

    def encode(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key[0])
        terms = pdf["term"].to_numpy()
        doc_ids = pdf["doc_id"].to_numpy()
        order = np.lexsort((doc_ids, terms))
        terms = terms[order]
        doc_ids = doc_ids[order]
        tfs = pdf["tf"].to_numpy()[order].astype(np.int64)
        dls = pdf["doc_len"].to_numpy()[order].astype(np.int64)
        pos_lists = list(pdf["pos"].to_numpy()[order])

        n = len(terms)
        term_change = np.empty(n, dtype=bool)
        term_change[0] = True
        term_change[1:] = terms[1:] != terms[:-1]
        term_start_idx = np.flatnonzero(term_change)
        # position of each row within its term run
        run_id = np.cumsum(term_change) - 1
        pos_in_term = np.arange(n) - term_start_idx[run_id]
        block_starts = np.flatnonzero(pos_in_term % block_size == 0)
        block_ends = np.append(block_starts[1:], n)

        uniq_terms = terms[term_start_idx]
        bucket_map = {t: _bucket_of(t, n_buckets) for t in uniq_terms}

        # doc ids: first value of each block lives in the min_doc column;
        # the payload FOR-packs the remaining n-1 in-block deltas (computed
        # in sign-flipped uint64 space — blake2b ids span the signed range)
        u = doc_ids.view(np.uint64) ^ codec._SIGN_BIT
        deltas = np.empty(n, dtype=np.uint64)
        if n:
            deltas[1:] = u[1:] - u[:-1]
            deltas[block_starts] = u[block_starts]
        inner = np.delete(deltas, block_starts)
        inner_starts = block_starts - np.arange(len(block_starts))
        id_buf, id_off = codec.for_pack_batch(inner, inner_starts)
        tf_buf, tf_off = codec.for_pack_batch(tfs.view(np.uint64), block_starts)
        dl_buf, dl_off = codec.for_pack_batch(dls.view(np.uint64), block_starts)

        # positions payload: per-posting buffers arrive PRE-ENCODED from
        # stage A (varbyte, first raw + deltas) — concatenate in sorted
        # posting order and slice per block by byte offsets, zero re-encode
        pos_buf = b"".join(pos_lists)
        plens = np.fromiter(map(len, pos_lists), dtype=np.int64, count=n)
        p_bytes = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(plens, out=p_bytes[1:])
        max_tf = np.maximum.reduceat(tfs, block_starts)
        min_dl = np.minimum.reduceat(dls, block_starts)

        term_col = terms[block_starts]
        return pd.DataFrame(
            {
                "shard": np.full(len(block_starts), shard, dtype=np.int32),
                "bucket": np.array(
                    [bucket_map[t] for t in term_col], dtype=np.int32
                ),
                "term": term_col,
                "block_id": (pos_in_term[block_starts] // block_size).astype(
                    np.int32
                ),
                "n": (block_ends - block_starts).astype(np.int32),
                "min_doc": doc_ids[block_starts],
                "max_doc": doc_ids[block_ends - 1],
                "doc_ids": [
                    id_buf[id_off[bi] : id_off[bi + 1]]
                    for bi in range(len(block_starts))
                ],
                "tfs": [
                    tf_buf[tf_off[bi] : tf_off[bi + 1]]
                    for bi in range(len(block_starts))
                ],
                "dls": [
                    dl_buf[dl_off[bi] : dl_off[bi + 1]]
                    for bi in range(len(block_starts))
                ],
                "poss": [
                    pos_buf[p_bytes[s] : p_bytes[e]]
                    for s, e in zip(block_starts, block_ends)
                ],
                "max_tf": max_tf.astype(np.int32),
                "min_dl": min_dl,
            }
        )

    return encode


def _bucket_of(term: str, n_buckets: int) -> int:
    # stable python-side bucket (must match the query-side pruning filter,
    # which uses the same function on the driver)
    h = int.from_bytes(hashlib.md5(term.encode("utf-8")).digest()[:4], "big")
    return h % n_buckets


def corpus_stats_from_checkpoints(
    spark: SparkSession, cat: IndexCatalog
) -> tuple[int, float]:
    """(n_docs, avgdl) from the committed checkpoint rows — exact integer
    sums, zero corpus scans."""
    rows = _read_checkpoint_rows(spark, cat)
    n_docs = sum(int(r["n_docs"]) for r in rows.values())
    total_dl = sum(int(r["sum_dl"]) for r in rows.values())
    return n_docs, (total_dl / n_docs if n_docs else 0.0)


def _shard_col(n_shards: int):
    """Doc-hash shard of ``doc_id`` (JVM xxhash64 — not computable on the
    driver, so the write paths collect it next to the keys they need)."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int")


def _posting_rows(docs: DataFrame, n_shards: int, cfg: EngineConfig) -> DataFrame:
    """docs -> one row per (doc, term) posting: (shard, tgroup, term,
    doc_id, tf, doc_len, pos).  Per-posting positions are a JVM substring
    of the per-doc varbyte blob (pos_offs delimits each term's slice) —
    the Python boundary never sees positions again after stage A."""
    nt = F.size("terms")
    return (
        docs.select(
            "doc_id",
            "doc_len",
            "pos_blob",
            F.explode(
                F.arrays_zip(
                    F.col("terms").alias("term"),
                    F.col("tfs").alias("tf"),
                    F.slice("pos_offs", F.lit(1), nt).alias("o0"),
                    F.slice("pos_offs", F.lit(2), nt).alias("o1"),
                )
            ).alias("z"),
        )
        .select(
            _shard_col(n_shards).alias("shard"),
            F.pmod(F.xxhash64("z.term"), F.lit(cfg.build_fanout))
            .cast("int")
            .alias("tgroup"),
            F.col("z.term").alias("term"),
            "doc_id",
            F.col("z.tf").alias("tf"),
            "doc_len",
            F.col("pos_blob")
            .substr(F.col("z.o0") + F.lit(1), F.col("z.o1") - F.col("z.o0"))
            .alias("pos"),
        )
    )


def _write_blocks(blocks: DataFrame, path: str, partition_mode: str) -> None:
    """Physical layout: partition dirs by (bucket, shard) — bucket is the
    query-time prune key, shard dirs make upsert/delete a TARGETED
    per-shard rewrite (dynamic overwrite touches only the changed shard's
    dirs, the reference's delete-stale-then-insert granularity).  Within
    each file rows are sorted by term so row-group min/max stats prune
    non-query terms.  One write task per BUCKET, each emitting its
    n_shards dir files (measured: 512 single-dir range tasks cost ~2x the
    per-bucket write at this scale; dir count is unchanged)."""
    _overwrite(
        blocks.repartition("bucket").sortWithinPartitions(
            "bucket", "shard", "term", "block_id"
        ),
        partition_mode,
    ).partitionBy("bucket", "shard").parquet(path)


def _write_term_stats(headers: DataFrame, cat: IndexCatalog) -> None:
    """Global exact term stats from block headers (bucket, term, n): df =
    sum of block counts, since (doc, term) is unique.  The caller passes
    the CACHED new blocks (plus, on a shard-restricted rebuild, a header
    scan of the untouched shards) rather than re-reading everything it
    just wrote: partition discovery + footer reads over the n_buckets x
    n_shards dir layout are driver-bound and core-count independent
    (measured ~3 s at 512 dirs — pure serial tax on the N->4N scaling
    leg), while the cached partial aggregation is map-side and scales
    with the cluster.  The table is small (one row per term) and always
    rewritten whole."""
    stats = headers.groupBy("bucket", "term").agg(F.sum("n").alias("df"))
    _overwrite(
        stats.repartition("bucket").sortWithinPartitions("term"), "static"
    ).partitionBy("bucket").parquet(cat.term_stats)


def _write_index_meta(
    cat: IndexCatalog, cfg: EngineConfig, n_docs: int, avgdl: float,
    n_shards: int, run_id: str,
) -> None:
    cat.write_meta(
        {
            "format_version": FORMAT_VERSION,
            "n_docs": n_docs,
            "avgdl": avgdl,
            "n_shards": n_shards,
            "block_size": cfg.block_size,
            "term_buckets": cfg.term_buckets,
            "bm25": {"k1": cfg.bm25.k1, "b": cfg.bm25.b},
            "codec": "for+varbyte",
            "with_positions": True,
            "run_id": run_id,
        }
    )


def build_postings(
    spark: SparkSession,
    cat: IndexCatalog,
    cfg: EngineConfig = DEFAULT,
    n_shards: int | None = None,
    run_id: str = "run",
    shards: list[int] | None = None,
    publish: bool = True,
) -> BuildResult:
    """Stage B: docs -> sharded compressed postings + term_stats + meta.

    ``publish=False`` leaves meta.json (the version readers watch) to the
    caller, which writes it once every table of the write is final.

    ``shards=None`` (or every shard) is the full build: the output dirs
    are cleared first — dynamic partition overwrite alone would leave
    stale bucket/shard dirs behind when the new vocabulary misses a
    bucket (deleted docs could silently resurface from surviving blocks).
    ``shards=[...]`` is the upsert/delete path: only those doc-hash
    shards are re-encoded from docs, only their (bucket, shard) dirs are
    cleared and rewritten, and every other shard's files stay untouched.

    Scale trade of the shard-restricted path: the shard filter runs on a
    JVM columnar scan of ALL of docs (the shard is a hash of doc_id, not
    a docs partition key), so a 1-doc upsert still reads the docs table's
    posting columns once; what it no longer does is decode old posting
    blocks back to rows in Python.  Postings encoded here are therefore
    bit-identical to a from-scratch build of the same docs."""
    import glob
    import shutil

    from pyspark import StorageLevel

    t0 = time.time()
    n_shards = n_shards or 16
    n_docs, avgdl = corpus_stats_from_checkpoints(spark, cat)
    if shards is not None and set(range(n_shards)) <= set(shards):
        shards = None  # every shard affected: the full build
    # docs carry doc_len inline (denormalized at stage A) so stage B needs
    # NO join — the term shuffle is the build's only wide dependency
    docs = spark.read.parquet(cat.docs)
    if shards is not None:
        # filter BEFORE the explode: untouched shards never leave the scan
        docs = docs.filter(_shard_col(n_shards).isin(shards))
    blocks = (
        _posting_rows(docs, n_shards, cfg)
        .groupBy("shard", "tgroup")
        .applyInPandas(_encode_blocks_fn(cfg), POSTINGS_SCHEMA)
    )
    # cache the encoded blocks across the two consumers (postings write +
    # term_stats aggregation): without it term_stats either re-encodes the
    # corpus or re-reads the 512-dir layout it just wrote (driver-bound
    # listing, a serial term on the scaling leg).  MEMORY_AND_DISK spills
    # gracefully when the blob volume outgrows executor storage at scale.
    # The blocks come from docs, never from postings, so clearing the
    # postings dirs below cannot invalidate what the plan reads.
    blocks = blocks.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        headers = blocks.select("bucket", "term", "n")
        if shards is None:
            # cleared output dir -> STATIC committer: the dynamic-overwrite
            # committer does driver-serial per-partition staging moves, a
            # core-count-independent cost that grows with the (bucket,
            # shard) dir count (measured on the 512-dir layout)
            shutil.rmtree(cat.postings, ignore_errors=True)
            _write_blocks(blocks, cat.postings, "static")
        else:
            # a shard emptied of some bucket must not leave stale blocks
            for s in shards:
                for d in glob.glob(os.path.join(cat.postings, "bucket=*", f"shard={s}")):
                    shutil.rmtree(d, ignore_errors=True)
            _write_blocks(blocks, cat.postings, "dynamic")
            kept = [s for s in range(n_shards) if s not in shards]
            if glob.glob(os.path.join(cat.postings, "bucket=*", "shard=*")):
                headers = headers.unionByName(
                    spark.read.parquet(cat.postings)
                    .filter(F.col("shard").isin(kept))
                    .select("bucket", "term", "n")
                )
            for d in glob.glob(os.path.join(cat.postings, "bucket=*")):
                if not os.listdir(d):  # bucket emptied of every shard dir
                    shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(cat.term_stats, ignore_errors=True)
        _write_term_stats(headers, cat)
    finally:
        blocks.unpersist()

    secs = time.time() - t0
    if publish:
        _write_index_meta(cat, cfg, n_docs, avgdl, n_shards, run_id)
    stage = "postings" if shards is None else "postings_incr"
    _append_metrics(
        cat,
        [{"run_id": run_id, "stage": stage, "part": -1, "docs": n_docs, "secs": secs}],
    )
    return BuildResult(n_docs, avgdl, [], [], secs)


# --- incremental update / delete (true B4) ------------------------------------
# The reference updates an asset by deleting its stale postings and vectors
# then inserting the new ones inside one LMDB txn (usearch/index.py:337-348,
# simprint/lmdb_ops.py:84-108).  The Spark analogue: merge the delta into
# ONLY the affected docs partitions (url-keyed upsert / delete) and
# re-commit their checkpoint fingerprints; then, side by side, rewrite the
# affected url-part dirs of the derived tables (units, simprints, bands)
# and re-run stage B restricted to the doc-hash shards of the changed docs
# (build_postings(shards=...): those shards' posting rows are re-encoded
# from docs and their (bucket, shard) dirs rewritten; term_stats is
# recomputed from the new block headers plus a header scan of the
# untouched shards).  A delta that touches every shard is exactly the full
# stage B.

_DOC_COLS = [
    "part", "doc_id", "url", "lang", "h1", "h2",
    "doc_len", "simhash", "instance", "data_sh", "segs",
    "terms", "tfs", "pos_blob", "pos_offs",
]


def _open_for_update(
    spark: SparkSession, cat: IndexCatalog, op: str
) -> tuple[dict, int, int]:
    """(checkpoint rows, n_parts, n_shards) of the committed index an
    upsert/delete mutates; refuses other format versions."""
    meta = cat.read_meta() if os.path.exists(cat.meta_path) else None
    if meta is not None:
        check_format(meta, op)
    ckpt = _read_checkpoint_rows(spark, cat)
    if not ckpt or meta is None:
        raise ValueError("no committed build to update (empty _checkpoints or no meta)")
    n_parts = int(next(iter(ckpt.values()))["n_parts"])
    return ckpt, n_parts, int(meta["n_shards"])


def _merge_parts(
    spark: SparkSession,
    cat: IndexCatalog,
    merged: DataFrame,
    parts: list[int],
    ckpt: dict[int, dict],
    n_parts: int,
    run_id: str,
    stage: str,
) -> None:
    """Rewrite the affected docs partitions from ``merged`` (already
    filtered to ``parts``) and re-commit their checkpoint rows.  The
    derived tables and postings are the caller's to refresh."""
    import os
    import shutil

    # materialize BEFORE overwriting the partitions the plan reads from;
    # the fingerprint/stats aggregate reads the same materialized rows the
    # write commits, so a part missing from it was emptied by a delete
    merged = merged.repartitionByRange(max(len(parts), 1), "part").localCheckpoint()
    try:
        agg = (
            merged.groupBy("part")
            .agg(
                F.bit_xor("h1").alias("hi"),
                F.bit_xor("h2").alias("lo"),
                F.count("*").alias("n_docs"),
                F.sum("doc_len").alias("sum_dl"),
            )
            .collect()
        )
        _overwrite(merged, "dynamic").partitionBy("part").parquet(cat.docs)
    finally:
        _release_checkpoint(merged)
    live = {int(r["part"]) for r in agg}
    for p in sorted(set(parts) - live):  # partition emptied by a delete
        shutil.rmtree(os.path.join(cat.docs, f"part={p}"), ignore_errors=True)
        ckpt.pop(p, None)
    seq = time.time_ns()
    for r in agg:
        ckpt[int(r["part"])] = {
            "part": int(r["part"]),
            "hi": int(r["hi"]),
            "lo": int(r["lo"]),
            "n_docs": int(r["n_docs"]),
            "sum_dl": int(r["sum_dl"]),
            "n_parts": n_parts,
            "seq": seq,
            "secs": 0.0,
        }
    _compact_checkpoints(cat, ckpt)
    _append_metrics(
        cat,
        [{"run_id": run_id, "stage": stage, "part": p, "docs": 0, "secs": 0.0}
         for p in parts],
    )


def _release_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD a ``localCheckpoint()`` pinned.  ``df.unpersist()``
    cannot: the checkpoint is not in the cache manager, it is the RDD
    behind the DataFrame's LogicalRDD leaf."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _refresh_shards_and_parts(
    spark: SparkSession,
    cat: IndexCatalog,
    cfg: EngineConfig,
    parts: list[int],
    shards: list[int],
    n_shards: int,
    run_id: str,
    rebuild_postings: bool,
) -> None:
    """After ``_merge_parts``: the derived-table refresh of ``parts`` runs
    alongside stage B restricted to ``shards`` — both only read the
    committed docs table, and every write sets its own overwrite mode.
    meta.json is written last, after both: a reader that sees the new
    version (its mtime) never caches a derived table mid-rewrite."""
    derived = None
    if cat.exists("units") or cat.exists("simprints"):
        derived = lambda: build_derived(spark, cat, parts=parts)  # noqa: E731
    if rebuild_postings and shards:
        res = _alongside(
            lambda: build_postings(
                spark, cat, cfg, n_shards, run_id, shards=shards, publish=False
            ),
            derived,
        )
        _write_index_meta(cat, cfg, res.n_docs, res.avgdl, n_shards, run_id)
    elif derived is not None:
        derived()
        cat.write_meta(cat.read_meta())  # a new version for readers' caches


def _alongside(main, side=None):
    """Run ``side`` on a worker thread while ``main`` runs here (guide-§2.6
    overlap: one job's writes back-fill cores left idle by the other's
    shuffle tail).  Returns main's result once both are done; a failure
    of either is re-raised."""
    from concurrent.futures import ThreadPoolExecutor

    if side is None:
        return main()
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(side)
        out = main()
        fut.result()
    return out


def _dedupe_delta(pages: DataFrame) -> DataFrame:
    """ONE surviving row per url/doc_id key in an upsert delta.

    A batch carrying the same url twice (recrawls or duplicate records in
    a streaming micro-batch) must not insert two docs rows for one key —
    that double-counts df/n_docs/avgdl and duplicates (doc, term)
    postings.  The survivor is deterministic and order-independent (so
    at-least-once batch replays converge): the latest ``warc_ts`` when
    the delta carries one (the recrawl case), lexicographically-largest
    (text, lang) otherwise."""
    from pyspark.sql import Window

    cols = set(pages.columns)
    key = "url" if "url" in cols else "doc_id"
    order = []
    if "warc_ts" in cols:
        order.append(F.col("warc_ts").desc())
    order.append(F.col("text").desc())
    if "lang" in cols:
        order.append(F.col("lang").desc())
    w = Window.partitionBy(key).orderBy(*order)
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def upsert_docs(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    cfg: EngineConfig = DEFAULT,
    run_id: str = "upsert",
    rebuild_postings: bool = True,
) -> list[int]:
    """Upsert a delta batch (url-keyed): replaces existing docs with the
    same url, inserts new ones, and rewrites ONLY the affected url-part
    dirs (docs, units, simprints, bands) and the doc-hash shards of the
    changed docs (postings, re-encoded from docs by build_postings with
    ``shards=``; see the section comment above).  A delta that touches
    every shard re-encodes every shard — the full stage B.
    Returns the affected part list."""
    cat = IndexCatalog(index_dir)
    ckpt, n_parts, n_shards = _open_for_update(spark, cat, "upsert_docs")
    h1, h2 = _row_hash_cols()
    delta = _normalize_input(_dedupe_delta(pages)).withColumn(
        "part", F.pmod(F.xxhash64("url"), F.lit(n_parts)).cast("int")
    )
    key_rows = (
        delta.select("part", _shard_col(n_shards).alias("shard")).distinct().collect()
    )
    parts = sorted({int(r["part"]) for r in key_rows})
    shards = sorted({int(r["shard"]) for r in key_rows})
    # match the index's build mode: a lean (postings-only) index must not
    # gain a few derived-valued docs mid-stream
    tok = tok_tf_simhash_udf if cat.exists("units") else tok_tf_lean_udf
    enc = delta.repartition(max(len(parts), 1), "part").withColumn(
        "tt", tok("text")
    )
    new_docs = enc.select(
        "part", "doc_id", "url", "lang", h1, h2,
        F.col("tt.doc_len").alias("doc_len"),
        F.col("tt.simhash").alias("simhash"),
        instance_expr("text").alias("instance"),
        F.col("tt.data_sh").alias("data_sh"),
        F.col("tt.segs").alias("segs"),
        F.col("tt.terms").alias("terms"),
        F.col("tt.tfs").alias("tfs"),
        F.col("tt.pos_blob").alias("pos_blob"),
        F.col("tt.pos_offs").alias("pos_offs"),
    )
    existing = (
        spark.read.parquet(cat.docs)
        .filter(F.col("part").isin(parts))
        .join(delta.select("url").distinct(), "url", "left_anti")
        .select(*_DOC_COLS)
    )
    _merge_parts(
        spark, cat, existing.unionByName(new_docs.select(*_DOC_COLS)),
        parts, ckpt, n_parts, run_id, "upsert",
    )
    _refresh_shards_and_parts(
        spark, cat, cfg, parts, shards, n_shards, run_id, rebuild_postings
    )
    return parts


def delete_docs(
    spark: SparkSession,
    urls: list[str],
    index_dir: str,
    cfg: EngineConfig = DEFAULT,
    run_id: str = "delete",
    rebuild_postings: bool = True,
) -> list[int]:
    """Delete documents by url from the affected partitions, maintaining
    postings/units/simprints incrementally (see upsert_docs).  Returns the
    affected part list."""
    cat = IndexCatalog(index_dir)
    ckpt, n_parts, n_shards = _open_for_update(spark, cat, "delete_docs")
    dead = spark.createDataFrame([(u,) for u in urls], "url string").withColumn(
        "part", F.pmod(F.xxhash64("url"), F.lit(n_parts)).cast("int")
    )
    parts = sorted(int(r["part"]) for r in dead.select("part").distinct().collect())
    affected = (
        spark.read.parquet(cat.docs)
        .filter(F.col("part").isin(parts))
        .join(dead.select("url"), "url", "left_semi")
        .select(_shard_col(n_shards).alias("shard"))
        .distinct()
        .collect()
    )
    shards = sorted(int(r["shard"]) for r in affected)
    kept = (
        spark.read.parquet(cat.docs)
        .filter(F.col("part").isin(parts))
        .join(dead.select("url"), "url", "left_anti")
        .select(*_DOC_COLS)
    )
    _merge_parts(spark, cat, kept, parts, ckpt, n_parts, run_id, "delete")
    _refresh_shards_and_parts(
        spark, cat, cfg, parts, shards, n_shards, run_id, rebuild_postings
    )
    return parts


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    cfg: EngineConfig = DEFAULT,
    n_parts: int = 16,
    n_shards: int = 16,
    group_size: int = 8,
    resume: bool = True,
    run_id: str = "run",
    derived: bool = True,
    combo2: bool = False,
) -> BuildResult:
    """Full build: stage A (resumable) + stage B (postings) + stage C
    (persisted similarity tables; ``derived=False`` skips stage C for a
    postings-only build).  ``combo2`` is kept for callers that pass the
    old default-off value; the two-band-combo table it built is retired,
    so ``combo2=True`` raises ValueError."""
    if combo2:
        raise ValueError(
            "combo2=True: the two-band-combo simprint table is no longer "
            "built; simprint_bands is exact for every max_hamming <= 12"
        )
    t0 = time.time()
    cat = IndexCatalog(index_dir)
    built, skipped = build_segments(
        spark, pages, cat, cfg, n_parts, group_size, resume, run_id,
        derived=derived,
    )
    # stage B (postings) and stage C share nothing but the stage-A docs
    # table — overlap them (guide-§2.6) so C's writes back-fill cores left
    # idle by B's shuffle tail.  Every write sets its own overwrite mode,
    # so the two cannot race on session conf.  On a resume that skipped
    # parts of an index whose tables exist, only the newly-built parts'
    # derived partitions are refreshed.
    derived_job = None
    if derived:
        refresh = bool(skipped) and cat.exists("units")
        derived_job = lambda: build_derived(  # noqa: E731
            spark, cat, parts=built if refresh else None
        )
    res = _alongside(
        lambda: build_postings(spark, cat, cfg, n_shards, run_id, publish=False),
        derived_job,
    )
    _write_index_meta(cat, cfg, res.n_docs, res.avgdl, n_shards, run_id)
    return BuildResult(res.n_docs, res.avgdl, built, skipped, time.time() - t0)
