"""Partition-width guard for CPU-bound Python stages.

A single-row-group parquet file scans as ONE partition, which would
serialize a CPU-bound Arrow-UDF stage onto one core.  The guard
repartitions such inputs up to the session's default parallelism.

Probe cost matters on hot API paths: the Python ``df.rdd`` property
builds a fresh Python-conversion RDD (plan -> JavaRDD[pickle] pipeline)
on EVERY access.  The probe here reads the JVM Dataset's ``rdd`` lazy
val instead — the physical RDD is planned once and cached on the Dataset,
and no Python serializer pipeline is constructed — so repeated calls on
the same DataFrame are free.

Planning itself is not free, though: ``Dataset.rdd`` runs optimization +
physical planning for the probed plan (measured 0.17 s for a
distinct-over-explode input, r7), and callers construct a FRESH DataFrame
per query, so the per-Dataset JVM cache never hits across calls.  The
module therefore memoizes the partition count on the ANALYZED plan's
``semanticHash`` plus everything else the count depends on: the
application, the shuffle-partition and file-split confs, the default
parallelism, and the files a scan reads.  A file scan's ``semanticHash``
covers its root path, not its listing, so a directory that grew (the
streaming compaction dirs do) would otherwise be served its old count;
``inputFiles()`` reads the listing the DataFrame already holds, so
repeated queries over one read still hit the memo.  Under that key two
plans always plan to the same partition count, so the cache is exact, and
repeated constructions of the same query (bench passes, per-batch sinks)
skip planning entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_probe_cache: dict[tuple, int] = {}

_CONF_KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
)


def plan_num_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s physical plan (memoized JVM probe)."""
    spark = df.sparkSession
    sc = spark.sparkContext
    try:
        key = (
            sc.applicationId,
            df._jdf.queryExecution().analyzed().semanticHash(),
            tuple(spark.conf.get(k) for k in _CONF_KEYS),
            sc.defaultParallelism,
            hash(frozenset(df.inputFiles())),
        )
    except Exception:  # non-classic backends: fall back to a direct probe
        return df._jdf.rdd().getNumPartitions()
    n = _probe_cache.get(key)
    if n is None:
        if len(_probe_cache) >= 1024:
            _probe_cache.clear()
        n = df._jdf.rdd().getNumPartitions()
        _probe_cache[key] = n
    return n


def ensure_min_partitions(
    df: DataFrame, min_partitions: int | None = None
) -> DataFrame:
    """Return ``df`` repartitioned to ``min_partitions`` iff its plan has
    fewer partitions; defaults to the session's default parallelism.
    At scale (inputs already wider than the core count) this is a no-op
    probe — the repartition exchange only appears for narrow inputs."""
    if min_partitions is None:
        min_partitions = df.sparkSession.sparkContext.defaultParallelism
    if plan_num_partitions(df) < min_partitions:
        return df.repartition(min_partitions)
    return df
