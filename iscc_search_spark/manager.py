"""S8 full — multi-index namespace management over a root directory.

The reference manages NAMED indexes under one base path: create / list /
get / delete with per-component size accounting
(iscc_search/indexes/usearch/manager.py:67-165 CRUD,
manager.py:294-335 component sizes; name rules
indexes/common.py:202-220 ``^[a-z][a-z0-9]*$``).  The Spark analogue: each
name is a subdirectory holding one parquet index (catalog.py layout);
``meta.json`` is the marker distinguishing an index from a stray dir.

Lifecycle mirror: ``create_index`` registers an EMPTY index (meta stub —
parquet dirs appear on first ingest, since zero-row partitioned parquet
does not round-trip through a reader); the first ``add_assets`` promotes
it with a full build; subsequent ``add_assets`` are incremental upserts
(operators/build.py:upsert_docs), ``remove_assets`` incremental deletes.
Size accounting walks each component dir's real files — the analogue of
the reference's lmdb-plus-derived component breakdown — reporting bytes
and MB-floored totals exactly like the reference (sizes never understate
disk usage).
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

from iscc_search_spark.catalog import FORMAT_VERSION, IndexCatalog
from iscc_search_spark.config import EngineConfig

INDEX_NAME_RE = re.compile(r"^[a-z][a-z0-9]*$")

# component dirs reported individually (same spirit as the reference's
# lmdb/derived breakdown); anything else in the index dir is "other"
_COMPONENTS = (
    "docs",
    "postings",
    "term_stats",
    "units",
    "simprints",
    "unit_bands",
    "simprint_bands",
)


def validate_index_name(name) -> None:
    """Reference name rule: ^[a-z][a-z0-9]*$ (indexes/common.py:202-220).
    Non-string input is a ValueError too (the HTTP layer maps it to 400,
    never a 500)."""
    if not isinstance(name, str) or not INDEX_NAME_RE.match(name):
        raise ValueError(
            f"Invalid index name: {name!r}. Must match ^[a-z][a-z0-9]*$"
        )


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                continue
    return total


class IndexManager:
    """Named-index registry over ``base_path`` (single-writer per index,
    like the reference's single-process constraint; Spark's committers
    make concurrent READERS safe)."""

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        cfg: EngineConfig | None = None,
        n_parts: int = 8,
        n_shards: int = 8,
    ):
        self.spark = spark
        self.base_path = base_path
        self.cfg = cfg or EngineConfig()
        self.n_parts = n_parts
        self.n_shards = n_shards
        # facade instances cached per name (the reference's instance
        # cache, manager.py:63); SearchIndex's reader self-revalidates
        # against meta mtime, so cached instances see updates
        self._open_cache: dict[str, object] = {}
        os.makedirs(base_path, exist_ok=True)

    # --- helpers -------------------------------------------------------------

    def _path(self, name: str) -> str:
        return os.path.join(self.base_path, name)

    def _is_index(self, name: str) -> bool:
        return os.path.isfile(os.path.join(self._path(name), "meta.json"))

    def _require(self, name: str) -> str:
        validate_index_name(name)
        if not self._is_index(name):
            raise FileNotFoundError(f"Index {name!r} not found")
        return self._path(name)

    def _info(self, name: str) -> dict:
        d = self._path(name)
        meta = IndexCatalog(d).read_meta()
        sizes_b: dict[str, int] = {}
        other = 0
        for entry in sorted(os.listdir(d)):
            p = os.path.join(d, entry)
            if os.path.isdir(p):
                b = _dir_bytes(p)
                if entry in _COMPONENTS:
                    sizes_b[entry] = b
                else:
                    other += b
            else:
                other += os.path.getsize(p)
        if other:
            sizes_b["other"] = other
        total_b = sum(sizes_b.values())
        mb = 1024 * 1024
        return {
            "name": name,
            "assets": int(meta.get("n_docs", 0)),
            "size": total_b // mb,
            "sizes": {k: v // mb for k, v in sizes_b.items()},
            "size_bytes": total_b,
            "sizes_bytes": sizes_b,
        }

    # --- CRUD (protocols/index.py:39-98) -------------------------------------

    def create_index(self, name: str) -> dict:
        """Register an empty named index; FileExistsError if present."""
        validate_index_name(name)
        d = self._path(name)
        if os.path.exists(d):
            raise FileExistsError(f"Index {name!r} already exists")
        os.makedirs(d)
        IndexCatalog(d).write_meta(
            {"format_version": FORMAT_VERSION, "n_docs": 0, "avgdl": 0.0,
             "empty": True}
        )
        return self._info(name)

    def list_indexes(self) -> list[dict]:
        """All indexes under the root, sorted by name; stray dirs skipped."""
        out = []
        for entry in sorted(os.listdir(self.base_path)):
            if self._is_index(entry) and INDEX_NAME_RE.match(entry):
                out.append(self._info(entry))
        return out

    def get_index(self, name: str) -> dict:
        self._require(name)
        return self._info(name)

    def delete_index(self, name: str) -> None:
        d = self._require(name)
        self._open_cache.pop(name, None)
        shutil.rmtree(d)

    # --- ingest / query ------------------------------------------------------

    def add_assets(self, name: str, pages: DataFrame) -> dict:
        """Ingest a batch: full build on the first batch of an empty
        index, incremental upsert afterwards."""
        d = self._require(name)
        meta = IndexCatalog(d).read_meta()
        if meta.get("empty"):
            from iscc_search_spark.operators.build import build_index

            # build into a temp sibling and swap on success — the empty
            # index's durable registration (meta.json) must survive a
            # failed first build (bad rows, OOM); rmtree-then-build would
            # silently drop the name from the registry on the error path
            tmp = d + ".build"
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                build_index(
                    self.spark, pages, tmp, cfg=self.cfg,
                    n_parts=self.n_parts, n_shards=self.n_shards,
                    group_size=self.n_parts,
                )
            except BaseException:
                shutil.rmtree(tmp, ignore_errors=True)
                raise
            shutil.rmtree(d)
            os.rename(tmp, d)
        else:
            from iscc_search_spark.operators.build import upsert_docs

            upsert_docs(self.spark, pages, d, cfg=self.cfg)
        return self._info(name)

    def remove_assets(self, name: str, urls: list[str]) -> dict:
        d = self._require(name)
        from iscc_search_spark.operators.build import delete_docs

        delete_docs(self.spark, urls, d, cfg=self.cfg)
        return self._info(name)

    def open(self, name: str):
        """SearchIndex facade over a named (non-empty) index (instances
        cached; update visibility comes from the reader's meta-mtime
        revalidation)."""
        cached = self._open_cache.get(name)
        if cached is not None and self._is_index(name):
            return cached
        d = self._require(name)
        meta = IndexCatalog(d).read_meta()
        if meta.get("empty"):
            raise FileNotFoundError(f"Index {name!r} is empty — ingest first")
        from iscc_search_spark.plans.search import SearchIndex

        ix = SearchIndex(self.spark, d)
        self._open_cache[name] = ix
        return ix
