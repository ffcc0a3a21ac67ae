"""Physical-plan assertions: the properties the 100 TB story depends on
must be visible in `explain("formatted")` (SURVEY.md §4)."""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from iscc_search_spark.catalog import IndexCatalog
from iscc_search_spark.operators.build import _bucket_of
from iscc_search_spark.operators.query import doc_term_tf


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def index_dir(spark, pages_df, tmp_path_factory):
    from iscc_search_spark.config import EngineConfig
    from iscc_search_spark.operators.build import build_index

    d = str(tmp_path_factory.mktemp("plan_idx"))
    build_index(spark, pages_df, d, cfg=EngineConfig(), n_parts=4, n_shards=4, group_size=4)
    return d


def test_posting_scan_prunes_buckets_and_pushes_terms(spark, index_dir):
    cat = IndexCatalog(index_dir)
    meta = cat.read_meta()
    terms = ["t00001", "t00007"]
    buckets = sorted({_bucket_of(t, int(meta["term_buckets"])) for t in terms})
    blocks = spark.read.parquet(cat.postings).filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(terms)
    )
    p = plan_of(blocks)
    assert "PartitionFilters" in p  # bucket dirs pruned
    assert "PushedFilters: [In(term" in p  # term filter reaches parquet


def test_topk_enrichment_broadcasts(spark, index_dir):
    cat = IndexCatalog(index_dir)
    docs = spark.read.parquet(cat.docs)
    topk = docs.select("doc_id").limit(10)
    p = plan_of(topk.join(docs, "doc_id", "left"))
    assert "BroadcastHashJoin" in p


def test_projection_prunes_read_schema(spark, index_dir):
    cat = IndexCatalog(index_dir)
    p = plan_of(spark.read.parquet(cat.docs).select("doc_id", "doc_len"))
    assert "ReadSchema: struct<doc_id:bigint,doc_len:bigint>" in p


def test_granular_search_uses_banded_equijoin(spark):
    """The granular simprint search must candidate via the (band, key)
    broadcast equi-join — NOT a nested-loop scan of every segment simhash
    per query (the round-1 full-scan anti-pattern)."""
    from iscc_search_spark.operators.simprints import granular_topk

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c x y z w v")],
        "doc_id long, text string",
    )
    p = plan_of(granular_topk(docs, "a b c d e f g h", k=5, max_hamming=7))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_unit_prefix_scan_pushes_range(spark, tmp_path):
    """The binary unit-prefix lookup must reach the parquet scan as a
    BETWEEN range (row-group min/max pruning on a value-sorted layout)."""
    from iscc_search_spark.operators.multiunit import (
        unit_prefix_range,
        unit_prefix_scan,
    )

    units = spark.createDataFrame(
        [(i, (i * 0x9E3779B97F4A7C15) % (2**63)) for i in range(1000)],
        "doc_id long, content_sh long",
    )
    path = str(tmp_path / "units")
    units.repartition(1).sortWithinPartitions("content_sh").write.parquet(path)
    stored = spark.read.parquet(path)
    out = unit_prefix_scan(stored, 0b1010, 4)
    p = plan_of(out)
    assert "GreaterThanOrEqual(content_sh" in p
    assert "LessThanOrEqual(content_sh" in p
    # semantic check vs python
    lo, hi = unit_prefix_range(0b1010, 4)
    want = {
        r["doc_id"]
        for r in units.collect()
        if lo <= r["content_sh"] <= hi
    }
    assert {r["doc_id"] for r in out.collect()} == want
    # sign-crossing prefix (top bit set) still one contiguous signed range
    lo2, hi2 = unit_prefix_range(0b1111, 4)
    assert lo2 < 0 and hi2 == -1


def test_tf_agg_has_mapside_combine(spark):
    docs = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    p = plan_of(doc_term_tf(docs))
    assert "partial_count" in p and "Exchange" in p


def test_band_lookup_is_broadcast_keyed_join(spark, tmp_path):
    """The unit-band candidate lookup is a BROADCAST hash join on
    (band, key) with the ~35 query keys (round 6: the 35-clause literal
    OR predicate compiled into a codegen method too large for the JIT —
    the whole first call ran interpreted; the join has compact generated
    code and the identical candidate set), feeding a semi join on
    doc_id."""
    from iscc_search_spark import corpus as corpus_mod
    from iscc_search_spark.config import EngineConfig
    from iscc_search_spark.operators.build import (
        build_index,
        load_unit_bands,
        load_units,
    )
    from iscc_search_spark.operators.multiunit import search_assets_multiunit

    p = str(tmp_path / "pp.parquet")
    corpus_mod.write_pages(p, 60, seed=3)
    pages = spark.read.parquet(p)
    d = str(tmp_path / "idx")
    build_index(spark, pages, d, cfg=EngineConfig(block_size=16),
                n_parts=2, n_shards=2, group_size=2)
    units = load_units(spark, d)
    qid = int(units.select("doc_id").orderBy("doc_id").first()["doc_id"])
    out = search_assets_multiunit(
        None, qid, k=5, units=units, bands=load_unit_bands(spark, d)
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin [band#" in plan
    assert "LeftSemi" in plan


def test_lsh_band_generation_is_one_scan(spark):
    """Every LSH band fan-out (minhash, simhash near-dup, RPH embedding)
    must generate its (band, key) rows from a JVM explode over ONE scan of
    the source relation — n_bands unioned re-selects re-scan the source
    (and re-run the signature UDF) once per band."""
    from iscc_search_spark.operators.ann import rph_signature_udf
    from iscc_search_spark.operators.dedup import lsh_candidate_pairs
    from iscc_search_spark.operators.neardup import simhash_bands

    sh = spark.createDataFrame(
        [(1, 12345), (2, -9876)], "doc_id long, simhash long"
    )
    p = plan_of(simhash_bands(sh, n_bands=8))
    assert "Union" not in p and "explode(array(struct" in p

    sigs = spark.createDataFrame(
        [(1, *range(16)), (2, *range(16))],
        "doc_id long, " + ", ".join(f"m{i} long" for i in range(16)),
    )
    p = plan_of(lsh_candidate_pairs(sigs, n_perm=16, n_bands=4))
    assert "Union" not in p
    assert p.count("+- Generate") == 2  # ONE band explode per self-join side

    emb = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.3, 0.4])],
        "vec_id long, embedding array<double>",
    )
    sig = rph_signature_udf(2, 64, 42)
    with_sig = emb.select("vec_id", F.col("embedding").alias("v"), sig("embedding").alias("s"))
    p = plan_of(simhash_bands(with_sig, "s", n_bands=16, id_col="vec_id"))
    assert "Union" not in p and "explode(array(struct" in p
    assert p.count("+- ArrowEvalPython") == 1  # signature UDF runs once


def test_simhash_neardup_has_no_aggregate_after_kernel(spark):
    """The near-dup kernel emits each pair once (from its first shared
    band), so nothing aggregates its output: no distinct above the
    FlatMapGroupsInPandas.  The bucket-size aggregate below it stays."""
    from iscc_search_spark.operators.neardup import simhash_neardup_pairs

    sh = spark.createDataFrame(
        [(1, 12345), (2, -9876)], "doc_id long, simhash long"
    )
    tree = plan_of(simhash_neardup_pairs(sh, max_hamming=6)).split("\n\n")[0]
    above, kernel, below = tree.partition("FlatMapGroupsInPandas")
    assert kernel and "Aggregate" in below
    assert "Aggregate" not in above and "Exchange" not in above
