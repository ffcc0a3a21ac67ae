"""SparkSession factory tuned for the sandbox (local[N], single JVM).

On a real cluster the same builder applies minus driver.memory sizing; the
Iceberg catalog configs are added by deploy tooling (the image here has no
Iceberg runtime jar, so the catalog abstraction in ``catalog.py`` falls back
to plain parquet directories).
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "iscc_search_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Python workers are separate processes: they need this package on their
    # path (cluster deploys use ``spark-submit --py-files``; local mode
    # inherits the driver env, so exporting PYTHONPATH suffices).
    # numpy kernels inside Arrow workers must not spawn BLAS thread pools:
    # 32 workers x N BLAS threads oversubscribes the box (workers inherit
    # this env in local mode)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + pp if pp else "")
        )
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # this engine's wide stages run Arrow-batched PYTHON work whose
        # cost-per-byte dwarfs JVM shuffle handling: AQE's default 64 MB
        # advisory size coalesces the build shuffle to fewer tasks than
        # cores and serializes the encode — keep partitions fine-grained
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # sandbox corpora are tiny by cluster standards: split scans finer so
        # a 25 MB parquet file doesn't become one serial task (cluster
        # deploys keep the 128m default — inputs there are many files)
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"),
        )
        # small open-cost so the MANY small posting-block files of the
        # (bucket, shard) layout pack into few scan tasks (1m made every
        # ~4 files a task -> 128 tasks to scan a 512-file index; scorer
        # parallelism comes from the groupBy(shard) shuffle, not the scan)
        .config("spark.sql.files.openCostInBytes", "131072")
        # zstd: ~2x smaller files than snappy — trades (scalable) CPU for
        # (serial, single-disk) IO, which is the local write floor
        .config("spark.sql.parquet.compression.codec", "zstd")
        # v2 commit: per-task renames instead of a driver-serial move of
        # every output file at job end (128-file partitioned writes were
        # paying a measurable serial commit on the build path)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# spread_small's "shuffle is cheap" bound on the optimizer size estimate
_SPREAD_MAX_BYTES = 1 << 30


def spread_small(df, factor: int = 1):
    """Round-robin-repartition a SMALL input to the session's default
    parallelism before an expensive per-row (usually Python) stage.

    Partition COUNT is a broken signal for this: a small parquet file
    split into defaultParallelism byte ranges still yields rows in only
    as many tasks as it has row groups (the rest scan nothing), so a
    `getNumPartitions() < par` check sees full parallelism while 5 of 32
    tasks do all the work (measured: a 4 s straggler in a 0.5 s stage).
    Instead repartition whenever the optimizer's size estimate says the
    shuffle is cheap (< 1 GB); at real scale inputs exceed that and keep
    their natural many-row-group layout."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism * factor
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # stats unavailable: fall back to the count check
        size = 1 << 40
    if size < _SPREAD_MAX_BYTES or df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


_ARROW_TYPES = {
    "int": pa.int32(), "long": pa.int64(), "double": pa.float64(),
    "string": pa.string(),
}


def arrow_frame(spark: SparkSession, data, ddl: str) -> DataFrame:
    """A small driver-built DataFrame handed to the JVM as one Arrow table.

    ``data`` is a list of row tuples in ``ddl``'s column order, or columns
    by name (a pandas frame, or a dict of numpy / Arrow arrays); int /
    long / double / string columns, ``NOT NULL`` allowed.  The frame is a
    local relation: collecting it runs no Spark job, where a frame built
    from Python rows runs a Python worker at every collect (≈ 0.4 s for
    10 rows on a 4-CPU host, against ≈ 10 ms here); an empty frame needs
    no special case."""
    fields = [f.split()[:2] for f in ddl.split(",")]
    if isinstance(data, list):
        cols = list(zip(*data)) or [()] * len(fields)
    else:
        cols = [data[n] for n, _ in fields]
    table = pa.table(
        {n: pa.array(c, type=_ARROW_TYPES[t]) for (n, t), c in zip(fields, cols)}
    )
    return spark.createDataFrame(table, ddl)
