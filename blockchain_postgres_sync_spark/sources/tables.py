"""Parquet table loaders.

Handles TIMESTAMP(NANOS) parquet columns (which Spark rejects by default):
``spark.sql.legacy.parquet.nanosAsLong`` reads them as int64 nanoseconds and
we convert to microsecond timestamps (truncation — identical to how DuckDB
and Arrow downcast ns→us), keyed off the observed dtype so tables without
nanos columns are untouched.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: columns known to be TIMESTAMP(NANOS) in the driver's testdata
_NANOS_COLUMNS: dict[str, list[str]] = {"events": ["ts"]}

#: Adaptive scan fan-out bounds (round-10 optimization, guide §2.5
#: "unsplittable input → repartition immediately after the read").
#: A table stored as ONE parquet file with ONE row group scans as ONE
#: task no matter how many cores the session has — parquet tasks claim
#: whole row groups, so neither maxPartitionBytes nor minPartitionNum
#: can split it — and every map-side kernel downstream (tokenize, text
#: features, Arrow UDFs) serializes on that task.  When the (local,
#: single-file) table is in [min, max] bytes and its row-group count is
#: below the session's parallelism, one round-robin repartition right
#: after the read fans the rows across the cores for the price of a
#: table-sized shuffle.  Self-disabling at scale: a properly laid-out
#: big table is a DIRECTORY of many files (skipped), a single file over
#: ``max`` bytes carries enough row groups to split natively (skipped),
#: and remote paths can't be stat'ed (skipped).  Results are
#: partitioning-independent everywhere by construction (hash-verified at
#: sf0.1 and, with the floor forced to 0, at sf0.01 — see
#: OPTIMIZATION_r10.md).
_FANOUT_MIN = 512 * 1024
_FANOUT_MAX = 2 * 1024**3

#: Default fan-out set: the corpus tables whose consumers run heavy
#: per-row kernels (tokenize/shingle/md5 over text; quantize/argmin
#: over vectors) — there the serialized scan is the whole query and one
#: tiny shuffle buys full-width parallelism (interleaved A/B at sf0.1:
#: 18 map-heavy queries 36.0 -> 30.7 s; sf1: kmeans_train 9.3 -> 4.7 s,
#: embedding_quantize 9.9 -> 1.2 s, quality_score 3.6 -> 1.1 s).  The
#: relational tables (events/orders/lineitem/...) are deliberately NOT
#: fanned out: their per-row work is whole-stage-codegen arithmetic, so
#: the added exchange is pure cost — measured at sf0.1 as twap
#: 0.34 -> 1.80 s, assets_view 0.85 -> 2.72 s, asof_quotes
#: 0.49 -> 1.91 s before the restriction.  This is workload knowledge
#: the optimizer doesn't have (guide §8); callers can override per
#: call via ``fanout=``.
_FANOUT_TABLES = frozenset({"documents", "embeddings"})


def _fanout_partitions(path: str, cores: int) -> int:
    """Target partition count for an under-parallel small scan, or 0 to
    leave the scan alone."""
    try:
        if not os.path.isfile(path):
            return 0
        size = os.path.getsize(path)
    except OSError:
        return 0
    if not (_FANOUT_MIN <= size <= _FANOUT_MAX):
        return 0
    try:
        import pyarrow.parquet as pq

        n_groups = pq.ParquetFile(path).metadata.num_row_groups
    except Exception:  # noqa: BLE001 — metadata unreadable: assume splittable
        return 0
    return cores if n_groups < cores else 0


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fanout: bool | None = None,
) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    dtypes = dict(df.dtypes)
    for col in _NANOS_COLUMNS.get(name, []):
        if dtypes.get(col) == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if fanout is None:
        fanout = name in _FANOUT_TABLES
    if fanout:
        n = _fanout_partitions(path, spark.sparkContext.defaultParallelism)
        if n:
            df = df.repartition(n)
    return df
