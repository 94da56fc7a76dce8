"""The sealing Python worker daemon (``fuzzymatch_spark/worker_daemon.py``)
and where ``get_spark`` turns it on."""

import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

import pandas as pd
from pyspark.sql.functions import pandas_udf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON_KEY = "spark.python.daemon.module"


def test_spark_archive_index_survives_invalidate_caches(spark):
    """The per-task ``invalidate_caches()`` keeps ``pyspark.zip``'s parsed
    central directory instead of re-reading the archive."""

    @pandas_udf("boolean")
    def index_kept(s: pd.Series) -> pd.Series:
        import importlib
        import zipimport

        zi = next(
            v for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
            and os.path.basename(v.archive) == "pyspark.zip"
        )
        before = zi._files
        importlib.invalidate_caches()
        return pd.Series([zi._files is before] * len(s))

    rows = spark.range(4).repartition(4).select(index_kept("id").alias("k")).collect()
    assert rows and all(r.k for r in rows)


def test_add_py_file_after_workers_start(spark, tmp_path):
    """An archive shipped with ``addPyFile`` once workers are running is
    importable by the next UDF: per-task archives are not sealed."""

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(4).repartition(4).select(plus_one("id")).collect()
    name = f"fm_probe_{uuid.uuid4().hex[:8]}"
    zip_path = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(zip_path))

    @pandas_udf("long")
    def probe(s: pd.Series) -> pd.Series:
        import importlib

        return pd.Series([importlib.import_module(name).VALUE] * len(s))

    rows = spark.range(4).repartition(4).select(probe("id").alias("v")).collect()
    assert [r.v for r in rows] == [42] * 4


def _clean_env(**extra) -> dict:
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env.setdefault("SPARK_DRIVER_MEM", "1g")
    env.update(extra)
    return env


def test_get_spark_runs_udf_from_foreign_cwd(tmp_path):
    """With no ``PYTHONPATH`` and a cwd outside the repo, the daemon and
    the package reach the workers through ``spark.executorEnv.PYTHONPATH``."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from fuzzymatch_spark.session import get_spark

        spark = get_spark(app_name="daemon-cwd", master="local[2]")

        @pandas_udf("string")
        def argv0(s: pd.Series) -> pd.Series:
            return pd.Series([sys.argv[0]] * len(s))

        rows = spark.range(2).repartition(2).select(argv0("id").alias("a")).collect()
        print("ARGV0", sorted({{r.a for r in rows}}))
        spark.stop()
    """)
    r = subprocess.run(
        [sys.executable, "-c", script], cwd=str(tmp_path), env=_clean_env(),
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    line = next(x for x in r.stdout.splitlines() if x.startswith("ARGV0"))
    assert os.path.join("fuzzymatch_spark", "worker_daemon.py") in line


def test_daemon_conf_only_where_it_imports(tmp_path):
    """``get_spark`` sets the daemon only for a local master and a package
    loaded from a directory; an explicit daemon module wins."""
    from fuzzymatch_spark.session import _with_worker_daemon

    local = _with_worker_daemon("local[2]", {})
    assert local == {DAEMON_KEY: "fuzzymatch_spark.worker_daemon",
                     "spark.executorEnv.PYTHONPATH": REPO}
    explicit = {DAEMON_KEY: "pyspark.daemon",
                "spark.executorEnv.PYTHONPATH": "/elsewhere"}
    assert _with_worker_daemon("local[2]", explicit) == {
        DAEMON_KEY: "pyspark.daemon",
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(("/elsewhere", REPO)),
    }
    assert _with_worker_daemon("spark://nohost:7077", {}) == {}

    # the package imported from a zip (the --py-files layout)
    zip_path = tmp_path / "fuzzymatch_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        for root, _dirs, files in os.walk(os.path.join(REPO, "fuzzymatch_spark")):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, REPO))
    script = textwrap.dedent("""
        import fuzzymatch_spark
        from fuzzymatch_spark.session import _with_worker_daemon
        assert ".zip" in fuzzymatch_spark.__file__, fuzzymatch_spark.__file__
        print(_with_worker_daemon("local[2]", {}))
    """)
    r = subprocess.run(
        [sys.executable, "-c", script], cwd=str(tmp_path),
        env=_clean_env(PYTHONPATH=str(zip_path)),
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert r.stdout.strip().splitlines()[-1] == "{}"
