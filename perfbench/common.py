"""Shared pieces of the benchmark: box-fitted Spark session, seeded inputs,
statistics, oracle and brute-force correctness checks, and the HTTP
stream driver.  Everything the engine sees is generated here from the
workload seed; the engine is only ever called through its public API.
"""

from __future__ import annotations

import json
import os
import platform
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))

# build parameters, as in the repository's bench.py (n_parts and
# group_size follow the core count; 8 doc-hash shards)
N_SHARDS = 8
K = 10


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb() -> int:
    """A quarter of physical RAM, at most 8 GB: the JVM heap plus the
    Python workers must fit the box (the engine's 48 GB default gets the
    JVM OOM-killed on a 15 GB machine)."""
    return max(1024, min(8192, mem_total_mb() // 4))


def sandbox_env(work: str) -> None:
    """Point every temp/scratch location of this process, the JVM and the
    Python workers (which inherit the environment) into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_mem_mb()}m"
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def start_spark(work: str, app: str, extra: dict[str, str] | None = None):
    from iscc_search_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        **(extra or {}),
    }
    n = nproc()
    return get_spark(app_name=app, cores=n, shuffle_partitions=n, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit (the gateway JVM
    exits when its stdin pipe closes)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def environment(seed: int, workload: str) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "driver_mem_mb": driver_mem_mb(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": np.__version__,
        "seed": seed,
        "workload": workload,
    }


# --- statistics ----------------------------------------------------------------

_TAIL_PCTS = (99.9, 99.0, 97.5, 95.0, 90.0, 75.0, 50.0)


def median(xs) -> float:
    return float(np.median(np.asarray(xs, dtype=np.float64)))


def tail_pct(n: int) -> float:
    """The highest of the usual percentiles with at least ten of ``n``
    samples beyond it (100, the maximum, below 20 samples).  Callers pass
    the guaranteed minimum sample count so the percentile is the same on
    every run."""
    for p in _TAIL_PCTS:
        if n * (100.0 - p) / 100.0 >= 10:
            return p
    return 100.0


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def dir_size(path: str) -> tuple[int, int]:
    """(files, bytes) of every regular file under ``path``."""
    n = b = 0
    for root, _, files in os.walk(path):
        for f in files:
            n += 1
            b += os.path.getsize(os.path.join(root, f))
    return n, b


# --- seeded inputs ------------------------------------------------------------


def write_corpus(path: str, n_docs: int, seed: int):
    """Write the seeded pages parquet; returns the pyarrow table."""
    import pyarrow.parquet as pq

    from iscc_search_spark import corpus

    table = corpus.generate_pages(n_docs, seed)
    pq.write_table(table, path, row_group_size=2048)
    return table


def write_rows(path: str, rows: list[tuple[str, str]]) -> None:
    """(url, text) rows as a pages parquet (lang 'en')."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "url": pa.array([u for u, _ in rows], pa.string()),
                "text": pa.array([t for _, t in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
            }
        ),
        path,
        row_group_size=2048,
    )


def build_kwargs() -> dict:
    n = nproc()
    return dict(n_parts=n, n_shards=N_SHARDS, group_size=n)


# --- correctness --------------------------------------------------------------


class Oracle:
    """Single-node BM25 reference over (url, text) rows, memoized per query."""

    def __init__(self, rows):
        from iscc_search_spark.corpus import doc_id_for_url
        from iscc_search_spark.oracle import build_oracle

        self.idx = build_oracle([(doc_id_for_url(u), t) for u, t in rows])
        self._memo: dict[str, list] = {}

    def topk(self, q: str) -> list:
        if q not in self._memo:
            self._memo[q] = [[d, s] for d, s in self.idx.search(q, K)]
        return self._memo[q]


class Tally:
    """attempted / failed operation counts (failures keep a short reason)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(what)


def popcount64(x: np.ndarray) -> np.ndarray:
    return np.unpackbits(
        np.ascontiguousarray(x).view(np.uint8).reshape(len(x), 8), axis=1
    ).sum(axis=1, dtype=np.int64)


def neardup_bruteforce(doc_ids: np.ndarray, sh: np.ndarray, max_h: int) -> dict:
    """All pairs (doc1 < doc2) within ``max_h`` bits, summarized as
    count, xor checksum of doc1 ^ (doc2 << 1), and hamming sum."""
    order = np.argsort(doc_ids)
    ids = doc_ids[order].astype(np.int64)
    u = sh[order].astype(np.int64).view(np.uint64)
    n, cnt, xor, hsum = len(ids), 0, np.int64(0), 0
    for i in range(n - 1):
        h = popcount64(u[i + 1 :] ^ u[i])
        m = h <= max_h
        if m.any():
            d2 = ids[i + 1 :][m]
            cnt += int(m.sum())
            hsum += int(h[m].sum())
            xor ^= np.bitwise_xor.reduce(np.int64(ids[i]) ^ (d2 << np.int64(1)))
    return {"pairs": cnt, "xor": int(xor), "hamming_sum": hsum}


def shingles(text: str, n: int) -> set[str]:
    from iscc_search_spark.functions.textnorm import tokenize_py

    toks = tokenize_py(text)
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def similar_bruteforce(units: dict, qid: int, k: int = K) -> list:
    """search_similar reference: confidence-weighted sum(s^4)/sum(s) over
    the content, data and instance units of every other asset."""
    from iscc_search_spark.operators.multiunit import MATCH_THRESHOLD

    ids = units["doc_id"]
    qi = int(np.flatnonzero(ids == qid)[0])

    def sim(col):
        v = units[col]
        h = popcount64((v ^ v[qi]).view(np.uint64))
        return 1.0 - h.astype(np.float64) / 64.0

    s_c, s_d = sim("content_sh"), sim("data_sh")
    s_i = np.where(units["instance"] == units["instance"][qi], 1.0, 0.0)
    zero = np.zeros(len(ids))
    c = [s >= MATCH_THRESHOLD for s in (s_c, s_d, s_i)]
    wsum = (
        np.where(c[0], s_c * s_c * s_c * s_c, zero)
        + np.where(c[1], s_d * s_d * s_d * s_d, zero)
        + np.where(c[2], s_i * s_i * s_i * s_i, zero)
    )
    ssum = np.where(c[0], s_c, zero) + np.where(c[1], s_d, zero) + np.where(c[2], s_i, zero)
    keep = (ssum > 0.0) & (ids != qid)
    score = wsum[keep] / ssum[keep]
    kid = ids[keep]
    order = np.lexsort((kid, -score))[:k]
    return [[int(kid[j]), float(score[j])] for j in order]


def granular_bruteforce(sp: dict, text: str, max_h: int, k: int = K) -> list:
    """search_granular reference: per (doc, query segment) best 128-bit
    simprint similarity within ``max_h`` bits, averaged over the query's
    segments."""
    from iscc_search_spark.operators.simprints import segment_simhashes_py

    qsegs = segment_simhashes_py(text)
    if not qsegs:
        return []
    hi = sp["simhash"].view(np.uint64)
    lo = sp["sh_lo"].view(np.uint64)
    best: dict[int, dict[int, float]] = {}
    for s, _, _, _, qh, ql in qsegs:
        h = popcount64(hi ^ np.uint64(qh & (2**64 - 1))) + popcount64(
            lo ^ np.uint64(ql & (2**64 - 1))
        )
        for j in np.flatnonzero(h <= max_h):
            d = int(sp["doc_id"][j])
            v = 1.0 - float(h[j]) / 128.0
            cur = best.setdefault(d, {})
            cur[s] = max(cur.get(s, -1.0), v)
    scored = [(d, sum(m.values()) / len(qsegs)) for d, m in best.items()]
    scored.sort(key=lambda x: (-x[1], x[0]))
    return [[d, s] for d, s in scored[:k]]


def same_ranking(got: list, want: list, exact: bool = True) -> bool:
    """[[doc_id, score], ...] equality; ``exact=False`` allows 1e-12
    relative score error (sums whose order Spark does not fix)."""
    if len(got) != len(want):
        return False
    for (dg, sg), (dw, sw) in zip(got, want):
        if int(dg) != int(dw):
            return False
        if exact and float(sg) != float(sw):
            return False
        if not exact and abs(float(sg) - float(sw)) > 1e-12 * max(1.0, abs(sw)):
            return False
    return True


def read_table(path: str, columns: list[str]) -> dict:
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)
    return {c: t.column(c).to_numpy() for c in columns}


# --- HTTP stream ---------------------------------------------------------------


def http_stream(
    work: str,
    base_url: str,
    queries: list[str],
    clients: int,
    seconds: float = 0.0,
    min_requests: int = 1,
    max_requests: int = 0,
    tag: str = "stream",
) -> dict:
    """Run the load generator process against ``base_url``; returns its
    result document (wall_s, records)."""
    qpath = os.path.join(work, f"{tag}_queries.json")
    out = os.path.join(work, f"{tag}_result.json")
    with open(qpath, "w") as f:
        json.dump(queries, f)
    cmd = [
        sys.executable, os.path.join(HERE, "loadgen.py"),
        "--url", base_url, "--queries", qpath, "--clients", str(clients),
        "--seconds", str(seconds), "--min-requests", str(min_requests),
        "--max-requests", str(max_requests), "--out", out,
    ]
    proc = subprocess.Popen(cmd)
    try:
        rc = proc.wait(timeout=max(120.0, 4 * seconds))
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        raise RuntimeError(f"load generator exited with {rc}")
    with open(out) as f:
        return json.load(f)


def check_stream(res: dict, queries: list[str], oracle: Oracle, tally: Tally) -> list[float]:
    """Oracle-check every answer; returns the latencies (s)."""
    lats = []
    for qi, status, lat, rows in res["records"]:
        lats.append(lat)
        ok = status == 200 and same_ranking(rows, oracle.topk(queries[qi]))
        tally.check(ok, f"/search {queries[qi]!r} status={status}")
    return lats
