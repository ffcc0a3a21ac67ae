"""Deterministic, engine-portable hashing.

Three hash families, each chosen so the SAME value is computable in Spark,
plain Python (oracle.py), and DuckDB (oracle SQL):

- ``doc_id``: first 8 bytes of blake2b(url) as big-endian signed long —
  partition-independent primary key (the analogue of the reference's
  uint64 ISCC-ID body keys, iscc_search/indexes/usearch/index.py:287-289).
  Computed in an Arrow-batched pandas UDF (hashlib is C-speed per element).
- ``token hash``: md5-hex based.  md5 is available and byte-identical in
  Spark (``F.md5``), DuckDB (``md5``) and Python (hashlib), so simhash /
  minhash built on it are cross-engine reproducible with pure integer math.
- ``h32``: first 8 hex chars of md5 as uint32 (fits in BIGINT everywhere) —
  the seed for minhash permutations (a*h+b mod 2^31-1, products < 2^62, no
  overflow in any engine).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

MERSENNE_31 = (1 << 31) - 1


@F.pandas_udf(T.LongType())
def doc_id_udf(url: pd.Series) -> pd.Series:
    out = np.empty(len(url), dtype=np.int64)
    for i, u in enumerate(url):
        d = hashlib.blake2b(u.encode("utf-8"), digest_size=8).digest()
        out[i] = int.from_bytes(d, "big", signed=True)
    return pd.Series(out)


def instance_expr(text_col: Column | str) -> Column:
    """INSTANCE_V0 stand-in: exact 64-bit content hash — first 16 hex chars
    of md5(text) as signed int64, assembled from two 32-bit halves (a single
    16-hex conv would overflow the cast).  Pure JVM codegen; stands in for
    the reference's blake3 with the same exact-identity semantics."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    md5 = F.md5(col)
    hi = F.conv(F.substring(md5, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(md5, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


# --- md5-based 32-bit token hash (portable) ---------------------------------


def h32_expr(term: Column | str) -> Column:
    """First 8 hex chars of md5(term) as a non-negative long (< 2^32).

    JVM-side: md5 + conv(hex,16,10).  conv returns a decimal string; the
    value fits a long exactly.
    """
    col = F.col(term) if isinstance(term, str) else term
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def h32_py(term: str) -> int:
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16)


# --- minhash permutations ----------------------------------------------------


def minhash_params(n_perm: int, seed: int = 42) -> tuple[list[int], list[int]]:
    """(a, b) coefficient lists for pi_k(h) = (a_k*h + b_k) mod (2^31-1).

    h is reduced mod 2^31-1 first so a*h < 2^62 — overflow-safe signed 64-bit
    arithmetic in Spark, DuckDB and Python alike.
    """
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE_31, size=n_perm).tolist()
    b = rng.integers(0, MERSENNE_31, size=n_perm).tolist()
    return [int(x) for x in a], [int(x) for x in b]
