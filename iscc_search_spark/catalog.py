"""Index directory layout — parquet-backed tables.

Production target is Iceberg (snapshot-isolated commits per partition write,
replacing the reference's LMDB write txn, SURVEY.md §3.3); this image has no
Iceberg runtime jar, so tables are plain parquet directories with the same
logical layout.  The architecture keeps the reference's consistency model
(docs/explanation/architecture.md:117-118): ``docs`` is the rebuildable
source-of-truth (tokenized pages: terms/tfs/positions arrays + simhash +
fingerprint columns), everything else is derived and re-creatable from it.

    <index_dir>/
      docs/part=N/            (doc_id, url, lang, h1, h2, doc_len, simhash,
                               data_sh, instance, segs, terms, tfs,
                               positions)                source of truth
      postings/bucket=B/shard=S/  compressed posting blocks (FOR + varbyte);
                              shard dirs make upsert/delete incremental
      term_stats/bucket=B/    (term, df)                 global exact stats
      units/part=N/           (doc_id, content_sh, data_sh, instance) —
                              per-asset similarity units, sorted by
                              content_sh within each part (prefix scans)
      simprints/part=N/       (doc_id, seg_idx, n_tokens, offset, size,
                              simhash, sh_lo) granular 128-bit segment
                              simprints (hi/lo limbs), sorted by simhash
                              within each part
      unit_bands/part=N/      (doc_id, band, key) LSH lookup rows sorted
                              by (band, key) — candidate fetch is a keyed
                              row-group-pruned read.  Storage trade: 35
                              rows/doc (~0.6 KB) buys O(keys) candidate
                              lookups instead of O(corpus) scan filters —
                              the columnar analogue of the reference's
                              per-type similarity index memory
      simprint_bands/part=N/  (doc_id, seg_idx, simhash, sh_lo, band,
                              key) — 13 ~10-bit-key rows/segment over
                              the 128-bit simprint, same layout/trade;
                              exact recall for max_hamming <= 12, the
                              one persisted granular candidate filter
      meta.json               (n_docs, avgdl, config, lineage)
      _checkpoints/           per-input-partition fingerprints (resumability)
      _metrics/               build lineage + throughput rows
"""

from __future__ import annotations

import json
import os

# On-disk format version, bumped whenever the persisted schema/semantics
# change incompatibly.  2 = 128-bit bigram-shingle segment simprints (the
# segs struct gained sh_lo; segment features switched from unigram bags to
# word-bigram shingles).  Indexes written before the field existed read as
# version 1 and are refused — mixed 64/128-bit simprint semantics would
# silently break granular-search recall, and pre-sh_lo part files would
# surface as nulls or an AnalysisException depending on schema sampling.
# 3 = segment feature hashes derived from per-TOKEN md5 limbs via the
# frozen uint64 mixer (simhash.bigram_hash128_py) instead of md5 over the
# space-joined bigram string — same feature sets and selectivity, ~6x
# cheaper hashing; stored sh_hi/sh_lo values differ from version 2, so
# band tables and simprints from either version must not be mixed.
# 4 = the DATA unit (data_sh) gets the same treatment: 64-bit simhash
# over DISTINCT word-trigram features whose 128-bit hashes fold the
# frozen bigram mixer left over per-token md5 limbs (mix(mix(a,b),c))
# instead of md5 over the space-joined 3-gram STRING (open vocabulary,
# ~zero cache hits — it dominated derived stage-A CPU).  Stored data_sh
# values differ from version 3, so units and unit-band tables must not
# be mixed across the boundary.
# 5 = the combo2 band table (simprint_bands2) stores only
# (part, band, key, doc_id, seg_idx); the 128-bit hash limbs are joined
# back from the simprints table at lookup time (candidates are k-row
# scale).  Hash semantics are unchanged, but a version-4 index upserted
# by a version-5 writer would leave part dirs with MIXED combo2 schemas
# (the inline simhash/sh_lo columns surfacing as nulls), silently
# breaking the hamming verify — hence the bump.  The table is no longer
# written (the 13-band simprint_bands table is exact for every threshold
# it served); a version-5 index that still holds the dir keeps opening,
# serving and upserting with it ignored, and a full rebuild removes it.
FORMAT_VERSION = 5


def check_format(meta: dict, where: str) -> None:
    """Refuse to operate on an index whose persisted format differs from
    this engine's.  The remedy is a derived rebuild from pages (docs is
    itself versioned — stage A wrote the old segs struct too)."""
    v = int(meta.get("format_version", 1))
    if v != FORMAT_VERSION:
        raise RuntimeError(
            f"{where}: index format_version={v} but engine expects "
            f"{FORMAT_VERSION}; rebuild the index (build_index) before "
            "querying or updating it"
        )


class IndexCatalog:
    def __init__(self, index_dir: str):
        self.root = index_dir

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    @property
    def docs(self) -> str:
        return self.path("docs")

    @property
    def postings(self) -> str:
        return self.path("postings")

    @property
    def term_stats(self) -> str:
        return self.path("term_stats")

    @property
    def units(self) -> str:
        return self.path("units")

    @property
    def simprints(self) -> str:
        return self.path("simprints")

    @property
    def unit_bands(self) -> str:
        return self.path("unit_bands")

    @property
    def simprint_bands(self) -> str:
        return self.path("simprint_bands")

    @property
    def checkpoints(self) -> str:
        return self.path("_checkpoints")

    @property
    def metrics(self) -> str:
        return self.path("_metrics")

    @property
    def meta_path(self) -> str:
        return self.path("meta.json")

    def write_meta(self, meta: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self.meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=2, sort_keys=True)
        os.replace(tmp, self.meta_path)

    def read_meta(self) -> dict:
        with open(self.meta_path) as f:
            return json.load(f)

    def exists(self, name: str) -> bool:
        return os.path.exists(self.path(name))
