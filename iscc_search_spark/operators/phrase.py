"""Phrase (and proximity) retrieval answered from the POSTINGS alone.

The reference's simprint postings carry chunk pointers (id, offset, size)
so matches can be located inside an asset without re-reading it
(iscc_search/indexes/simprint/lmdb_ops.py:24-64; results report spans,
schema.py:260-320).  This engine's analogue: every posting block carries a
varbyte positions payload (token positions per occurrence), so phrase
intersection never touches raw text — true B2, unlike the round-1 fallback
that re-scanned ``text.contains``.

Algorithm (per shard, fully vectorized):
1. scan only the phrase terms' blocks (bucket dir + row-group pruning);
2. decode (doc_id, positions) per term;
3. a doc matches iff the intersection over phrase slots i of
   { positions(term_i) - i } is non-empty (the classic positional-index
   phrase join).  Docs are first narrowed to those containing ALL distinct
   terms, then (doc, adjusted_pos) pairs are intersected as packed uint64
   keys — no per-doc Python loop.

Scale: work is proportional to the phrase terms' postings only; each shard
intersects its own disjoint doc set; the result is a (doc_id) set, merged
with a trivial union (no shuffle beyond the block scan's groupBy(shard)).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iscc_search_spark.functions import codec
from iscc_search_spark.functions.textnorm import tokenize_py
from iscc_search_spark.operators.wand import (
    IndexReader,
    _as_reader,
    decode_block_ids,
    decode_block_positions,
)
from iscc_search_spark.session import arrow_frame

# token positions fit 32 bits (a single document with >2^32 tokens is not a
# document); (dense doc index, adjusted position) packs into one uint64 key
_POS_BITS = np.uint64(32)


def _term_doc_positions(g: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One term's blocks -> (doc_ids per posting, flat positions,
    posting boundaries into the flat positions)."""
    ids_parts, pos_parts, tf_parts = [], [], []
    for n, min_doc, doc_buf, tf_buf, pos_buf in zip(
        g["n"], g["min_doc"], g["doc_ids"], g["tfs"], g["poss"]
    ):
        n = int(n)
        ids_parts.append(decode_block_ids(int(min_doc), n, doc_buf))
        tfs = codec.for_unpack(tf_buf, n).view(np.int64)
        tf_parts.append(tfs)
        pos_parts.append(decode_block_positions(pos_buf, tfs))
    ids = np.concatenate(ids_parts)
    tfs = np.concatenate(tf_parts)
    pos = np.concatenate(pos_parts)
    bounds = np.zeros(len(tfs) + 1, dtype=np.int64)
    np.cumsum(tfs, out=bounds[1:])
    return ids, pos, bounds


def _phrase_shard_matcher(slots: list[tuple[str, int]]):
    """slots = [(term, offset-in-phrase)], offsets 0-based, terms may repeat."""
    distinct = sorted({t for t, _ in slots})

    def match(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        by_term = {t: g for t, g in pdf.groupby("term", sort=False)}
        if any(t not in by_term for t in distinct):
            return pd.DataFrame({"doc_id": np.empty(0, np.int64)})
        decoded = {t: _term_doc_positions(by_term[t]) for t in distinct}

        # docs containing ALL distinct terms (sorted-array intersection;
        # block arrival order is not sorted, so normalize via unique)
        docs = None
        for t in distinct:
            d = decoded[t][0]
            docs = np.unique(d) if docs is None else np.intersect1d(docs, d)
        if len(docs) == 0:
            return pd.DataFrame({"doc_id": np.empty(0, np.int64)})

        # per slot: packed (dense doc idx, position - slot offset) keys,
        # intersected across slots
        keys = None
        for t, off in slots:
            ids, pos, bounds = decoded[t]
            keep = np.isin(ids, docs)
            if not keep.any():
                return pd.DataFrame({"doc_id": np.empty(0, np.int64)})
            dense = np.searchsorted(docs, ids)  # docs is sorted unique
            tf = np.diff(bounds)
            dense_flat = np.repeat(dense[keep], tf[keep])
            keep_flat = np.repeat(keep, tf)
            adj = pos[keep_flat] - off
            ok = adj >= 0
            k = (dense_flat[ok].astype(np.uint64) << _POS_BITS) | adj[ok].astype(
                np.uint64
            )
            keys = k if keys is None else np.intersect1d(keys, k)
            if len(keys) == 0:
                return pd.DataFrame({"doc_id": np.empty(0, np.int64)})
        hit_dense = np.unique((keys >> _POS_BITS).astype(np.int64))
        return pd.DataFrame({"doc_id": docs[hit_dense]})

    return match


def phrase_match(
    spark: SparkSession,
    index: str | IndexReader,
    phrase: str,
) -> DataFrame:
    """(doc_id) docs containing the exact consecutive token sequence —
    answered entirely from the positional postings (no text access)."""
    r = _as_reader(spark, index)
    toks = tokenize_py(phrase)
    if not toks:
        return arrow_frame(spark, [], "doc_id long")
    slots = [(t, i) for i, t in enumerate(toks)]
    distinct = sorted({t for t, _ in slots})
    if len(r.term_dfs(distinct)) < len(distinct):
        return arrow_frame(spark, [], "doc_id long")  # a term is absent
    blocks = r.candidate_blocks(distinct)
    return blocks.groupBy("shard").applyInPandas(
        _phrase_shard_matcher(slots), "doc_id long"
    )
