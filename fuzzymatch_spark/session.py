"""SparkSession factory with scale-oriented defaults.

Tuned for the target deployment (1000-executor cluster over ~100 TB) but
parameterized so tests run on local[N]:

* AQE on: runtime shuffle-partition coalescing + skew-join splitting — the
  LSH band join is skew-prone (hot shingles / boilerplate captions).
* Arrow enabled with bounded batch size: every Python-side kernel is an
  Arrow-batched pandas UDF; batch size caps executor-side Python memory.
* shuffle partitions default to 2*cores locally; on a real cluster this is
  set per-job from input size (see plans/pipeline.py).
* Python worker daemon (local masters): ``fuzzymatch_spark.worker_daemon``.
  Every Python task runs ``importlib.invalidate_caches()``, which under
  Python 3.11 re-reads the central directory of every zip on the worker's
  ``sys.path``: ``pyspark.zip`` (1,328 entries), the py4j zip and the
  spark-core jar (5,359 entries), 16 importers in all.  On a 4-vCPU host
  that one call took 180-230 ms per task with Spark's stock daemon and
  0.1 ms with this one; a 30-row, 4-task pandas-UDF query's median fell
  from 0.39-0.57 s to 0.23-0.24 s, and perfbench ``fuzzy_search``'s
  ``op_p50_s`` from 1.10 s to 0.67 s.  The daemon seals the archives on
  ``sys.path`` at its start (Spark's lib path and the launch-time
  ``PYTHONPATH``), which do not change during a session.  It does not
  seal archives shipped later with ``--py-files``/``addPyFile``, nor
  directory finders: those can change between tasks, which is why Spark
  invalidates.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_local_dir() -> str | None:
    """Fastest safe scratch space for shuffle files / disk spill.

    Measured (r7, 400k-image Hamming join, pinned): with the default
    /tmp (virtual disk) the 11.2M-row band exchange was FLAT across core
    counts — 10.2 s at local[8] vs 13.8 s at local[32], i.e. the shuffle
    was disk-bound, not CPU-bound — while on a tmpfs local dir the same
    join runs 8.5 s / 4.9 s (scales again).  Local-mode shuffles here are
    at most a few GB, so RAM-backed scratch is safe on this 128 GiB box;
    the guard requires 16 GiB free and falls back to Spark's default
    otherwise.  On real clusters this setting is inert: the cluster
    manager overrides spark.local.dir via SPARK_LOCAL_DIRS/LOCAL_DIRS
    (production nodes should point those at their fastest local NVMe).
    Override with SPARK_GRAFT_LOCAL_DIR (empty string disables).
    """
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override is not None:
        return override or None
    if os.environ.get("SPARK_LOCAL_DIRS"):
        return None  # already managed externally
    shm = "/dev/shm"
    try:
        st = os.statvfs(shm)
        if st.f_bavail * st.f_frsize < 16 * 1024**3:
            return None
        d = os.path.join(shm, "fuzzymatch-spark-local")
        os.makedirs(d, exist_ok=True)
        return d
    except OSError:
        return None


_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))
_DAEMON_MODULE = "spark.python.daemon.module"
_EXECUTOR_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def _with_worker_daemon(master: str, conf: dict) -> dict:
    """``conf`` plus the sealing worker daemon, where the daemon is sure to
    import: a local master, and this package loaded from a directory,
    which reaches the workers through ``spark.executorEnv.PYTHONPATH``
    (Spark appends it after its own lib path).  An explicit daemon module
    in ``conf`` wins."""
    local = master == "local" or master.startswith("local[")
    if not local or not os.path.isdir(_PACKAGE_DIR):
        return conf
    root = os.path.dirname(_PACKAGE_DIR)
    conf = dict(conf)
    conf.setdefault(_DAEMON_MODULE, "fuzzymatch_spark.worker_daemon")
    conf[_EXECUTOR_PYTHONPATH] = os.pathsep.join(
        p for p in (conf.get(_EXECUTOR_PYTHONPATH), root) if p
    )
    return conf


def get_spark(
    app_name: str = "fuzzymatch_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Start (or get) the session.  ``jobs/dedup_job.py`` and
    ``jobs/curate_job.py`` build their own sessions instead: they ship this
    package per task with ``--py-files``, so their workers cannot import
    the daemon module at start and keep Spark's stock daemon."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if "local" not in master else int(
            master.split("[")[1].rstrip("]").replace("*", str(cpus))
            if "[" in master
            else cpus
        )
        shuffle_partitions = max(8, 2 * n)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # respect parallelism when coalescing (the Spark default): with
        # size-first coalescing the band join's reduce stage collapsed to
        # ~16 partitions — fine at 8 cores, starving 32 (measured: the join
        # scaled 1.39x from 8->32 cores size-first vs 2.03x parallelism-first)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    local_dir = _default_local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
        # shuffle bytes never leave RAM on a tmpfs local dir, so codec
        # CPU is pure overhead (measured ~7% off the 11.2M-row Hamming
        # band join at local[32]).  Scoped to the tmpfs default — on a
        # real cluster (external SPARK_LOCAL_DIRS / cluster manager)
        # compression stays on: there the bytes cross disks and NICs.
        builder = builder.config("spark.shuffle.compress", "false")
        builder = builder.config("spark.shuffle.spill.compress", "false")
    for k, v in _with_worker_daemon(master, extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
