"""Partition-width guard for CPU-bound Python stages.

A single-row-group parquet file scans as ONE partition, which would
serialize a CPU-bound Arrow-UDF stage onto one core.  The guard
repartitions such inputs up to the session's default parallelism.

The repartition is a round-robin exchange, and an exchange costs a job of
its own (~50 ms on 4 vCPUs).  For a small enough input that job costs more
than the spread saves, so a caller may pass a byte floor: an input whose
optimized plan estimates fewer bytes than the floor is scored in its one
task.  How small is small depends on the kernel's cost per row, so the
floor is set by the slowest per-row path measured: ED ``top_matches`` over
perfbench captions (4.8 ms a row).  Collect walls with and without the
exchange, single-file parquet, 4 vCPUs, medians of 10 (of 40 at 73 KB
and 694 B):

* ED over captions: 7 KB (32 rows) 0.457 / 0.472 s, 10 KB (64 rows)
  0.390 / 0.515 s, 32 KB (256 rows) 0.562 / 1.284 s;
* SW over the same captions: faster without the exchange at every size
  up to 32 KB (256 rows 0.267 / 0.155 s) and at 73 KB (600 rows,
  0.238 / 0.177 s);
* ED over the caption vocabulary (694 B): 0.234 / 0.190 s.

So ``SMALL_INPUT_BYTES`` is 8 KiB, just above the slowest path's
break-even; a parquet file's own metadata is ~5 KB of that.  Only the
single-query top-k operators pass it.  Every other caller keeps floor 0:
the bulk top-k paths, dedup signatures, ``ann`` and the image and audio
sources run a long Python stage per row (image synthesis alone costs
1.3 ms a row), where spreading even a small input pays.  A plan whose size
Spark cannot estimate (an RDD-backed frame, for one) reports
``Long.MaxValue``, so it is never under a floor.

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
module therefore memoizes the partition count, and the optimized plan's
``sizeInBytes`` beside it, on the ANALYZED plan's
``semanticHash`` plus everything else the count depends on: the
application, the shuffle-partition and file-split confs, the default
parallelism, and the files a scan reads.  A file scan's ``semanticHash``
covers its root path, not its listing, so a directory that grew (the
streaming compaction dirs do) would otherwise be served its old count;
``inputFiles()`` reads the listing the DataFrame already holds, so
repeated queries over one read still hit the memo.  Under that key two
plans always plan to the same partition count, so the cache is exact, and
repeated constructions of the same query (bench passes, per-batch sinks)
skip planning entirely.  A key that cannot be built raises: the probe
reads the JVM Dataset either way, so there is no backend a fallback could
serve, and a silent fallback would only switch the memo off.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_probe_cache: dict[tuple, tuple[int, int]] = {}

_CONF_KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
)

# Inputs below this many plan bytes skip the top-k operators' exchange
# (measured basis in the module docstring).
SMALL_INPUT_BYTES = 8 << 10


def plan_probe(df: DataFrame) -> tuple[int, int]:
    """(partition count, optimized-plan ``sizeInBytes``) of ``df``
    (memoized JVM probe)."""
    spark = df.sparkSession
    sc = spark.sparkContext
    qe = df._jdf.queryExecution()
    key = (
        sc.applicationId,
        qe.analyzed().semanticHash(),
        tuple(spark.conf.get(k) for k in _CONF_KEYS),
        sc.defaultParallelism,
        hash(frozenset(df.inputFiles())),
    )
    probe = _probe_cache.get(key)
    if probe is None:
        if len(_probe_cache) >= 1024:
            _probe_cache.clear()
        probe = (
            df._jdf.rdd().getNumPartitions(),
            int(qe.optimizedPlan().stats().sizeInBytes()),
        )
        _probe_cache[key] = probe
    return probe


def ensure_min_partitions(
    df: DataFrame, min_partitions: int | None = None, floor_bytes: int = 0
) -> DataFrame:
    """Return ``df`` repartitioned to ``min_partitions`` iff its plan has
    fewer partitions and estimates at least ``floor_bytes``; defaults to
    the session's default parallelism and no floor.
    At scale (inputs already wider than the core count) this is a no-op
    probe — the repartition exchange only appears for narrow inputs."""
    if min_partitions is None:
        min_partitions = df.sparkSession.sparkContext.defaultParallelism
    n, size = plan_probe(df)
    if n < min_partitions and size >= floor_bytes:
        return df.repartition(min_partitions)
    return df
